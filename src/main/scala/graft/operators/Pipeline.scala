package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Cut, Tables}
import org.apache.spark.sql.graft.TextHash.{qualityFeaturesCol, shingleHashSet}

/** The operators composed as one curation flow — the shape this library
  * actually runs in production: raw corpus → canonical form → quality
  * gate → exact-dedup keeper selection → benchmark decontamination →
  * training-ready survivors.
  *
  * Exchange budget at 100 TB (matches the executed plan at sf0.1, four
  * hash exchanges total): normalize + tokenize + score fuse into ONE
  * map-side projection over the scan; keeper selection is a window-min
  * over the content hash — one hash exchange of the qualified survivors,
  * no join-back; decontamination joins the corpus gram stream against a
  * BROADCAST benchmark gram set (zero corpus shuffle), with two
  * bench-gram-set-sized aggregates for the df cap and one exchange of
  * the matched doc_ids for the distinct + anti-join. Only the window
  * exchange is corpus-scale — the budget a per-crawl curation pass must
  * hit.
  */
object Pipeline {
  type Q = (SparkSession, String) => DataFrame

  val defs: Seq[(String, Q, Option[String])] = (Seq(
    ("p01_curation_pipeline",
      (s, d) => {
        val stop = Seq("the", "a", "of", "and", "is")
        // Stage 1 (map-side): canonical text + quality features, as ONE
        // single-pass kernel expression. The declarative regexp + split +
        // HOF chain computed the same values, but Catalyst re-inlines
        // that whole tree into every referencing Filter/Project (no CSE
        // across operators or inside lambdas) — the quality GATE alone
        // re-derived the normalization ~6× per row, measured 22s of a
        // 34s pipeline at 200k docs. The kernel makes the gate one pass.
        val norm = Tables.documents(s, d)
          .select(col("doc_id"), qualityFeaturesCol(col("text"), stop).as("f"))
          .select(col("doc_id"), col("f.norm_text").as("norm_text"),
            col("f.n_words").as("n_words"),
            TextAnalysis.qualityScore(col("f.n_words"), col("f.n_distinct"), col("f.n_stop"))
              .as("quality"))
        // Stage 2: quality gate.
        val qualified = norm.filter(col("quality") >= 0.5)
        // Stage 3: exact-dedup keeper (min doc_id per canonical hash) as a
        // window-min — ONE exchange hashed on the content hash, against
        // the groupBy+join-back form's two exchanges of the same data.
        val wKeep = Window.partitionBy(md5(col("norm_text")))
        val deduped = qualified
          .withColumn("keeper_id", min(col("doc_id")).over(wKeep))
          .filter(col("doc_id") === col("keeper_id"))
        // Stage 4: benchmark decontamination (anti-join on 5-gram hashes),
        // df-capped like d08: bench grams shared by more than 1000 corpus
        // docs are boilerplate, not contamination signal.
        val grams = Tables.documents(s, d)
          .select(col("doc_id"), explode(shingleHashSet(col("text"), 5)).as("g"))
        val bench0 = grams.filter(col("doc_id") < 5).select(col("g")).distinct()
        val benchGrams = grams.join(broadcast(bench0), "g")
          .groupBy(col("g")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= 1000).select(col("g"))
        val contaminated = grams.filter(col("doc_id") >= 5)
          .join(broadcast(benchGrams), "g")
          .select(col("doc_id")).distinct()
        deduped.filter(col("doc_id") >= 5)
          .join(contaminated.withColumnRenamed("doc_id", "bad_id"),
            col("doc_id") === col("bad_id"), "left_anti")
          .select(col("doc_id"), col("n_words"),
            (floor(col("quality") * 1000000 + 0.5) / 1000000).as("quality"))
      },
      Some("""WITH norm AS (
                SELECT doc_id,
                       trim(regexp_replace(
                         regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                         ' +', ' ', 'g')) AS norm_text
                FROM documents),
              feats AS (
                SELECT doc_id, norm_text,
                       len(string_split(norm_text, ' ')) AS n_words,
                       len(list_distinct(string_split(norm_text, ' '))) * 1.0
                         / len(string_split(norm_text, ' ')) AS ttr,
                       len(list_filter(string_split(norm_text, ' '),
                         x -> x IN ('the','a','of','and','is'))) * 1.0
                         / len(string_split(norm_text, ' ')) AS stop_ratio
                FROM norm),
              scored AS (
                SELECT doc_id, norm_text, n_words,
                       least(1.0, n_words * 1.0 / 100.0) * 0.5 + ttr * 0.3
                         + (1.0 - stop_ratio) * 0.2 AS quality
                FROM feats),
              qualified AS (SELECT * FROM scored WHERE quality >= 0.5),
              keepers AS (SELECT md5(norm_text) AS h, min(doc_id) AS keeper_id
                          FROM qualified GROUP BY md5(norm_text)),
              deduped AS (SELECT q.* FROM qualified q JOIN keepers k
                          ON md5(q.norm_text) = k.h AND q.doc_id = k.keeper_id),
              toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i
                      FROM toks WHERE len(w) >= 5),
              sh5 AS (SELECT DISTINCT doc_id,
                        w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS sg
                      FROM idx
                      UNION ALL
                      SELECT doc_id, text AS sg FROM documents WHERE len(string_split(text, ' ')) < 5),
              bench0 AS (SELECT DISTINCT sg FROM sh5 WHERE doc_id < 5),
              bench AS (SELECT b.sg FROM sh5 s JOIN bench0 b ON s.sg = b.sg
                        GROUP BY b.sg HAVING count(*) <= 1000),
              bad AS (SELECT DISTINCT s.doc_id FROM sh5 s JOIN bench b ON s.sg = b.sg
                      WHERE s.doc_id >= 5)
              SELECT d.doc_id, d.n_words,
                     FLOOR(d.quality * 1000000 + 0.5) / 1000000 AS quality
              FROM deduped d
              WHERE d.doc_id >= 5
                AND NOT EXISTS (SELECT 1 FROM bad WHERE bad.doc_id = d.doc_id)""")),

    // ---- p02: sequence packing (concat-and-chunk) ----------------------
    // The last step before the trainer: documents are concatenated in a
    // deterministic order and chunked into fixed context-length
    // sequences (the GPT pretraining layout). Each doc gets its global
    // token offset, the id of the sequence holding its first token, and
    // how many sequences it spans.
    //
    // The naive form is a GLOBAL running sum — `sum() over (order by
    // doc_id)` with no partition key, which Spark executes in ONE task:
    // the whole corpus through a single thread, the definitive 100 TB
    // killer. This plan splits the prefix sum: doc_id buckets give a
    // PARALLEL local cumsum (window partitioned by bucket), the global
    // window runs only over the per-bucket totals (corpus/bucketSize
    // rows — at 100 TB with 1e9 docs and 1e6-doc buckets, 1000 rows on
    // one task), and a broadcast join stitches offsets back. Same
    // numbers, no single-task corpus pass.
    ("p02_pack_sequences",
      (s, d) => {
        val cap = 512L; val bucketSize = 1000L
        // Sequences are sized by REAL subword counts (the t17 BPE model,
        // memoized per corpus), not the whitespace proxy — the number a
        // trainer's context window actually consumes.
        val t = Tables.documents(s, d).select(col("doc_id"),
          org.apache.spark.sql.graft.TextHash
            .bpeTokenCountCol(col("text"), Bpe.mergeStrings(s, d)).as("n_tokens"),
          floor(col("doc_id") / bucketSize).cast("long").as("bkt"))
        val wLocal = Window.partitionBy(col("bkt")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val local = t.withColumn("local_start",
          coalesce(sum(col("n_tokens")).over(wLocal), lit(0L)))
        val wBkt = Window.orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val offsets = t.groupBy(col("bkt")).agg(sum(col("n_tokens")).as("btok"))
          .withColumn("boff", coalesce(sum(col("btok")).over(wBkt), lit(0L)))
          .select(col("bkt"), col("boff"))
        local.join(broadcast(offsets), "bkt")
          .select(col("doc_id"), col("n_tokens"),
            (col("local_start") + col("boff")).as("tok_start"))
          .withColumn("seq_id", floor(col("tok_start") / cap).cast("long"))
          .withColumn("n_seqs",
            (floor((col("tok_start") + col("n_tokens") - lit(1)) / cap)
              - col("seq_id") + lit(1)).cast("long"))
      },
      Some(s"""WITH RECURSIVE ${Bpe.oracleTokenCte},
              t AS (SELECT doc_id, n_tokens FROM bpetok),
              c AS (SELECT doc_id, n_tokens,
                     CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS BIGINT) AS tok_start
                    FROM t)
              SELECT doc_id, n_tokens, tok_start,
                     CAST(FLOOR(tok_start / 512.0) AS BIGINT) AS seq_id,
                     CAST(FLOOR((tok_start + n_tokens - 1) / 512.0)
                          - FLOOR(tok_start / 512.0) + 1 AS BIGINT) AS n_seqs
              FROM c""")),

    // ---- p03: mixture sampling (per-source token budgets) --------------
    // The data-mixing step of every pretraining run: each source
    // contributes at most a target budget, downsampled uniformly —
    // sources under budget keep everything, heavy sources are thinned to
    // rate = budget/total. The sampler is DETERMINISTIC (md5 of doc_id →
    // 32-bit uniform, compared against floor(rate·2³²)), so reruns —
    // and the DuckDB oracle — select the identical rows; d07 is the
    // seeded-RNG variant this replaces when auditability matters.
    // Shape at 100 TB: per-source totals are a tiny hash aggregate
    // (sources ≪ rows, map-side combined), rates ride back as a
    // BROADCAST, and the keep/drop decision is pure map-side expression
    // work at scan speed — the corpus itself never shuffles.
    ("p03_mixture_sample",
      (s, d) => {
        // Budgets are REAL token budgets (t17's BPE counts — what the
        // mixture actually feeds a trainer), not the former char proxy.
        val budgetTokens = 800L
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("n_chars"),
            org.apache.spark.sql.graft.TextHash
              .bpeTokenCountCol(col("text"), Bpe.mergeStrings(s, d)).as("n_tokens"))
        val rates = docs.groupBy(col("source"))
          .agg(sum(col("n_tokens")).as("total_tokens"))
          .select(col("source"),
            floor(least(lit(1.0), lit(budgetTokens).cast("double") / col("total_tokens"))
              * lit(4294967296.0)).as("threshold"))
        // u = first 8 md5 hex digits as an integer — exact in double, and
        // bit-identical to the oracle's digit-by-digit evaluation.
        docs.join(broadcast(rates), "source")
          .withColumn("u",
            conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10).cast("double"))
          .filter(col("u") < col("threshold"))
          .select(col("doc_id"), col("source"), col("n_chars"))
      },
      Some(s"""WITH RECURSIVE ${Bpe.oracleTokenCte},
              tot AS (SELECT d.source, CAST(sum(b.n_tokens) AS BIGINT) AS total_tokens
                      FROM documents d JOIN bpetok b USING (doc_id) GROUP BY d.source),
              r AS (SELECT source,
                           FLOOR(least(1.0, 800.0 / total_tokens) * 4294967296.0) AS threshold
                    FROM tot),
              u AS (SELECT doc_id, source, n_chars,
                           list_sum(list_transform(range(1, 9),
                             i -> (strpos('0123456789abcdef',
                                     substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)
                                  * 16.0 ** (8 - i))) AS u
                    FROM documents)
              SELECT doc_id, source, n_chars
              FROM u JOIN r USING (source) WHERE u < threshold""")),

    // ---- p04: deterministic corpus shuffle + token-budget sharding ------
    // The last step of a pretraining data pipeline: SHUFFLE the corpus
    // (break source/time locality so every training batch is i.i.d.-ish)
    // and pack it into fixed-token-budget output shards. The shuffle key
    // is md5(doc_id) — deterministic, so reruns, audits and the oracle
    // agree on the exact order (contrast with orderBy(rand())); shard
    // assignment is the running token total over that order, divided by
    // the budget. The prefix sum is p02's SPLIT form, but bucketed by the
    // md5 prefix (256 buckets, contiguous under the skey sort): the
    // corpus-scale cumsum is bucket-partitioned (parallel), the global
    // window sees only the 256 bucket totals, and offsets ride back as a
    // broadcast. At 100 TB: widen the prefix (3 hex chars = 4096
    // buckets); the downstream write is partitionBy(shard_id), giving
    // training-ready files of ~budget tokens each.
    ("p04_shuffle_shard", (s, d) => shuffleShards(s, d),
      Some(s"""WITH RECURSIVE ${Bpe.oracleTokenCte},
              t AS (SELECT doc_id, n_tokens,
                     md5(CAST(doc_id AS VARCHAR)) AS skey
                   FROM bpetok),
              c AS (SELECT doc_id, skey, n_tokens,
                     CAST(coalesce(sum(n_tokens) OVER (ORDER BY skey, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS BIGINT) AS tok_start
                    FROM t)
              SELECT doc_id, skey, n_tokens, tok_start,
                     CAST(FLOOR(tok_start / 2048.0) AS BIGINT) AS shard_id
              FROM c""")),

    // ---- p05: deterministic train/val/test split -------------------------
    // The dataset-split step every training run needs: assign each doc to
    // train (80%), val (10%) or test (10%) by hashing its IDENTITY —
    // md5(doc_id) → 32-bit uniform against fixed thresholds — so the
    // assignment is a pure function of the row: reruns, incremental
    // appends and the oracle all agree, and a doc can never migrate
    // between splits when the corpus grows (the failure mode of
    // randomSplit/rand(), which reshuffle on every added partition).
    // Shape at 100 TB: ZERO exchanges — the split is map-side expression
    // work at scan speed, and the downstream write is
    // partitionBy(split). p03 is the budget-thinning twin; this one
    // partitions everything.
    ("p05_dataset_split",
      (s, d) => {
        val scale = 4294967296.0
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("n_chars"),
            conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
              .cast("double").as("u"))
          .select(col("doc_id"), col("source"), col("n_chars"),
            when(col("u") < scale * 0.8, "train")
              .when(col("u") < scale * 0.9, "val")
              .otherwise("test").as("split"))
      },
      Some("""WITH u AS (SELECT doc_id, source, n_chars,
                           list_sum(list_transform(range(1, 9),
                             i -> (strpos('0123456789abcdef',
                                     substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)
                                  * 16.0 ** (8 - i))) AS u
                         FROM documents)
              SELECT doc_id, source, n_chars,
                     CASE WHEN u < 4294967296.0 * 0.8 THEN 'train'
                          WHEN u < 4294967296.0 * 0.9 THEN 'val'
                          ELSE 'test' END AS split
              FROM u""")),

    // ---- p06: the END-TO-END pretraining data pipeline -------------------
    // Every layout stage composed into ONE DAG — the proof that the
    // pieces are compatible, not just individually correct: quality
    // gate (p01's kernel) → exact-dedup keeper (window-min) → per-source
    // budget thinning (p03's md5-uniform) → train/val/test assignment
    // (p05, SALTED hash: the mix decision already truncated the unsalted
    // u's range, so reusing it would skew split proportions on thinned
    // sources) → deterministic-order sequence packing of the train split
    // (p04's split prefix sum). Oracle-exact through all five stages.
    // Exchange budget at 100 TB: the kernel + thinning + split stages
    // are map-side; corpus-scale exchanges are the keeper window (1) and
    // the packing's bucket window (1); everything else is tiny
    // aggregates and broadcasts. TWO corpus exchanges for the whole
    // pipeline — each stage run separately would pay its own scans and
    // re-shuffles; composition amortizes them. The amortization is NOT
    // free from the optimizer: `kept` fans out to two consumers (rates
    // aggregate + main path) and the train set to two more (cumsum +
    // bucket totals), and Spark re-plans a shared subtree per consumer
    // (4 corpus scans, 0 reused exchanges — measured) — so both shared
    // frames are cut, the d13/ngramPairs pattern: the
    // gate+keeper subtree executes exactly once.
    ("p06_pipeline_e2e",
      (s, d) => {
        val stop = Seq("the", "a", "of", "and", "is")
        val budgetChars = 4000L; val cap = 512L; val scale = 4294967296.0
        def u8(c: org.apache.spark.sql.Column) =
          conv(substring(md5(c), 1, 8), 16, 10).cast("double")
        // 1-2: gate + keeper (p01 stages 1-3). Token counts for the
        // packing stage are REAL BPE counts (t17's memoized model);
        // the thinning budget stays in chars (mixtures are commonly
        // specified in bytes/chars — p03 is the token-budget form).
        val norm = Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("n_chars"),
            org.apache.spark.sql.graft.TextHash
              .bpeTokenCountCol(col("text"), Bpe.mergeStrings(s, d)).as("n_tokens"),
            qualityFeaturesCol(col("text"), stop).as("f"))
          .select(col("doc_id"), col("source"), col("n_chars"), col("n_tokens"),
            col("f.norm_text").as("norm_text"),
            TextAnalysis.qualityScore(col("f.n_words"), col("f.n_distinct"), col("f.n_stop"))
              .as("q"))
          .filter(col("q") >= 0.5)
        val wKeep = Window.partitionBy(md5(col("norm_text")))
        val kept = norm.withColumn("keeper", min(col("doc_id")).over(wKeep))
          .filter(col("doc_id") === col("keeper"))
          .select(col("doc_id"), col("source"), col("n_chars"), col("n_tokens"))
          .cut
        // 3: per-source thinning (p03).
        val rates = kept.groupBy(col("source"))
          .agg(sum(col("n_chars")).as("tc"))
          .select(col("source"),
            floor(least(lit(1.0), lit(budgetChars).cast("double") / col("tc")) * scale)
              .as("thr"))
        val mixed = kept.join(broadcast(rates), "source")
          .filter(u8(col("doc_id").cast("string")) < col("thr"))
        // 4: split assignment (p05, salted).
        val tagged = mixed.withColumn("us",
            u8(concat(lit("split:"), col("doc_id").cast("string"))))
          .withColumn("split",
            when(col("us") < scale * 0.8, "train")
              .when(col("us") < scale * 0.9, "val").otherwise("test"))
        // 5: pack the train split in deterministic shuffled order (p04).
        val t = tagged.filter(col("split") === "train")
          .withColumn("skey", md5(concat(lit("order:"), col("doc_id").cast("string"))))
          .withColumn("bkt", substring(col("skey"), 1, 2))
          .cut
        val wLocal = Window.partitionBy(col("bkt"))
          .orderBy(col("skey"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val local = t.withColumn("local_start",
          coalesce(sum(col("n_tokens")).over(wLocal), lit(0L)))
        val wBkt = Window.orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val offsets = t.groupBy(col("bkt")).agg(sum(col("n_tokens")).as("btok"))
          .withColumn("boff", coalesce(sum(col("btok")).over(wBkt), lit(0L)))
          .select(col("bkt"), col("boff"))
        local.join(broadcast(offsets), "bkt")
          .select(col("doc_id"), col("source"), col("n_tokens"),
            (col("local_start") + col("boff")).as("tok_start"))
          .withColumn("seq_id", floor(col("tok_start") / cap).cast("long"))
      },
      Some(s"""WITH RECURSIVE ${Bpe.oracleTokenCte},
              norm AS (
                SELECT d.doc_id, d.source, d.n_chars,
                       b.n_tokens,
                       trim(regexp_replace(
                         regexp_replace(lower(d.text), '[^a-z0-9 ]', '', 'g'),
                         ' +', ' ', 'g')) AS norm_text
                FROM documents d JOIN bpetok b USING (doc_id)),
              feats AS (
                SELECT *, len(string_split(norm_text, ' ')) AS n_words,
                       len(list_distinct(string_split(norm_text, ' '))) * 1.0
                         / len(string_split(norm_text, ' ')) AS ttr,
                       len(list_filter(string_split(norm_text, ' '),
                         x -> x IN ('the','a','of','and','is'))) * 1.0
                         / len(string_split(norm_text, ' ')) AS stop_ratio
                FROM norm),
              qualified AS (
                SELECT doc_id, source, n_chars, n_tokens, norm_text
                FROM feats
                WHERE least(1.0, n_words * 1.0 / 100.0) * 0.5 + ttr * 0.3
                      + (1.0 - stop_ratio) * 0.2 >= 0.5),
              keepers AS (SELECT md5(norm_text) AS h, min(doc_id) AS keeper_id
                          FROM qualified GROUP BY md5(norm_text)),
              kept AS (SELECT q.doc_id, q.source, q.n_chars, q.n_tokens
                       FROM qualified q JOIN keepers k
                         ON md5(q.norm_text) = k.h AND q.doc_id = k.keeper_id),
              r AS (SELECT source,
                           FLOOR(least(1.0, 4000.0 / CAST(sum(n_chars) AS BIGINT))
                                 * 4294967296.0) AS thr
                    FROM kept GROUP BY source),
              hx AS (SELECT *,
                       list_sum(list_transform(range(1, 9),
                         i -> (strpos('0123456789abcdef',
                                 substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)
                              * 16.0 ** (8 - i))) AS u_mix,
                       list_sum(list_transform(range(1, 9),
                         i -> (strpos('0123456789abcdef',
                                 substr(md5('split:' || CAST(doc_id AS VARCHAR)), i, 1)) - 1)
                              * 16.0 ** (8 - i))) AS u_split
                     FROM kept),
              mixed AS (SELECT hx.* FROM hx JOIN r USING (source) WHERE u_mix < thr),
              train AS (SELECT doc_id, source, n_tokens,
                               md5('order:' || CAST(doc_id AS VARCHAR)) AS skey
                        FROM mixed WHERE u_split < 4294967296.0 * 0.8),
              c AS (SELECT doc_id, source, n_tokens,
                           CAST(coalesce(sum(n_tokens) OVER (ORDER BY skey, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                             AS BIGINT) AS tok_start
                    FROM train)
              SELECT doc_id, source, n_tokens, tok_start,
                     CAST(FLOOR(tok_start / 512.0) AS BIGINT) AS seq_id
              FROM c""")),

    // ---- p07: curriculum ordering --------------------------------------
    // Quality-annealed training order (the Bengio et al. 2009 curriculum
    // recipe as a data op): documents are staged cleanest-first by fixed
    // thresholds on t18's classifier logit (stage 0 = logit > 1 … stage 3
    // = rest — thresholds on an IEEE-exact score, so staging is exact),
    // shuffled deterministically WITHIN each stage (md5 identity hash —
    // curriculum orders stages, not documents; intra-stage order must
    // stay unbiased), then given a GLOBAL training position and shard.
    //
    // The global position is the p02/p04 SPLIT prefix sum, here over
    // (stage, md5-prefix bucket) groups: the corpus-scale row_number runs
    // partition-local per (stage, bucket); the single-task window sees
    // only the ~1024 group totals whose running sum becomes each group's
    // global offset, broadcast back. (stage, bkt, skey) ordering equals
    // the global (stage, skey) ordering because bkt is a PREFIX of skey.
    // At 100 TB: one corpus exchange on (stage, bkt); the shard write is
    // partitionBy(shard_id) — curriculum-ordered training files, ~1000
    // docs each, readable in shard order by the trainer.
    ("p07_curriculum",
      (s, d) => {
        // Cut: `scored` feeds BOTH the per-group row_number
        // and the group-total offsets — without the cut each consumer
        // re-runs the classifier kernel over the whole corpus (the
        // s08/p06 multi-consumer re-plan trap).
        val scored = TextAnalysis.classifierScores(s, d)
          .select(col("doc_id"),
            when(col("logit") > 1, 0).when(col("logit") > 0, 1)
              .when(col("logit") > -1, 2).otherwise(3).as("stage"),
            md5(concat(lit("cur:"), col("doc_id").cast("string"))).as("skey"))
          .withColumn("bkt", substring(col("skey"), 1, 2))
          .cut
        val wLocal = Window.partitionBy(col("stage"), col("bkt"))
          .orderBy(col("skey").asc, col("doc_id").asc)
        val local = scored.withColumn("local_rn",
          row_number().over(wLocal).cast("long"))
        val wGrp = Window.orderBy(col("stage"), col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val offsets = scored.groupBy(col("stage"), col("bkt"))
          .agg(count(lit(1)).as("gn"))
          .withColumn("goff", coalesce(sum(col("gn")).over(wGrp), lit(0L)))
          .select(col("stage"), col("bkt"), col("goff"))
        local.join(broadcast(offsets), Seq("stage", "bkt"))
          .select(col("doc_id"), col("stage"),
            (col("goff") + col("local_rn")).as("ord"))
          .withColumn("shard_id", ((col("ord") - 1) / 1000).cast("long"))
      },
      Some(s"""WITH ${TextAnalysis.oracleLogitCte},
              st AS (SELECT doc_id,
                       CASE WHEN logit > 1 THEN 0 WHEN logit > 0 THEN 1
                            WHEN logit > -1 THEN 2 ELSE 3 END AS stage,
                       md5('cur:' || CAST(doc_id AS VARCHAR)) AS skey
                     FROM sc)
              SELECT doc_id, stage,
                     CAST(row_number() OVER (ORDER BY stage, skey, doc_id) AS BIGINT) AS ord,
                     CAST((row_number() OVER (ORDER BY stage, skey, doc_id) - 1) // 1000 AS BIGINT) AS shard_id
              FROM st""")),

    // ---- p08: length-bucketed batching (padding-efficiency report) -------
    // The dynamic-batching concern: a trainer padding every sequence in
    // a batch to the batch max wastes FLOPs proportional to length
    // variance, so production loaders bucket by length first. Docs land
    // in width-64 token buckets (real t17 BPE counts); within a bucket
    // every doc pads to the bucket ceiling, so waste is computable in
    // closed form. Output per bucket: docs, real tokens, padded tokens,
    // waste fraction — all integers plus ONE exact division. The plan is
    // a map-side tokenize (codegen'd BPE count) + a bucket-keyed
    // aggregate: one corpus exchange carrying ~n/64-bucket keys, nothing
    // else — the report a loader uses to pick bucket boundaries.
    ("p08_length_buckets",
      (s, d) => {
        val width = 64L
        Tables.documents(s, d)
          .select(col("doc_id"),
            org.apache.spark.sql.graft.TextHash
              .bpeTokenCountCol(col("text"), Bpe.mergeStrings(s, d)).as("n_tokens"))
          .filter(col("n_tokens") > 0)
          .withColumn("bucket", expr(s"(n_tokens - 1) div $width"))
          .withColumn("padded", (col("bucket") + 1) * width)
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("real_tokens"),
            sum(col("padded")).as("padded_tokens"))
          .withColumn("waste_frac",
            (col("padded_tokens") - col("real_tokens")).cast("double")
              / col("padded_tokens"))
      },
      Some(s"""WITH RECURSIVE ${Bpe.oracleTokenCte},
              b AS (SELECT doc_id, n_tokens,
                      CAST((n_tokens - 1) // 64 AS BIGINT) AS bucket,
                      CAST(((n_tokens - 1) // 64 + 1) * 64 AS BIGINT) AS padded
                    FROM bpetok WHERE n_tokens > 0)
              SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(n_tokens) AS BIGINT) AS real_tokens,
                     CAST(sum(padded) AS BIGINT) AS padded_tokens,
                     CAST(sum(padded) - sum(n_tokens) AS DOUBLE)
                       / CAST(sum(padded) AS BIGINT) AS waste_frac
              FROM b GROUP BY 1""")),

    // ---- p09: data-quality constraint report -----------------------------
    // The dbt-test / Deequ-style VALIDATION GATE a pipeline runs before
    // trusting an ingest: referential integrity, key uniqueness, range
    // and null-rate checks, each reported as (check, n_violations) so a
    // scheduler can fail the run on any nonzero row. Every check is its
    // own minimal plan — orphan FKs are LEFT ANTI joins (the dimension
    // side broadcasts when small), duplicate keys a groupBy-HAVING on
    // the key's own exchange, range/null checks map-side filter-counts
    // with NO shuffle at all — union'd only after each collapses to one
    // row. Scale: nothing materializes violations themselves; counts
    // flow, rows don't.
    ("p09_dq_checks",
      (s, d) => {
        def one(name: String, cnt: DataFrame): DataFrame =
          cnt.select(lit(name).as("check"), col("n").as("n_violations"))
        val li = Tables.lineitem(s, d)
        val ord = Tables.orders(s, d)
        val cust = Tables.customer(s, d)
        one("orders_orphan_custkey",
          ord
            .join(broadcast(cust.select(col("c_custkey"))),
              col("o_custkey") === col("c_custkey"), "left_anti")
            .agg(count(lit(1)).as("n")))
        .unionAll(one("lineitem_orphan_orderkey",
          li.join(ord.select(col("o_orderkey")),
              col("l_orderkey") === col("o_orderkey"), "left_anti")
            .agg(count(lit(1)).as("n"))))
        .unionAll(one("part_dup_partkey",
          Tables.part(s, d).groupBy(col("p_partkey"))
            .agg(count(lit(1)).as("c")).filter(col("c") > 1)
            .agg(count(lit(1)).as("n"))))
        .unionAll(one("lineitem_qty_out_of_range",
          li.filter(col("l_quantity") < 1 || col("l_quantity") > 50)
            .agg(count(lit(1)).as("n"))))
        .unionAll(one("customer_null_name",
          cust.filter(col("c_name").isNull)
            .agg(count(lit(1)).as("n"))))
        .unionAll(one("lineitem_nonpositive_price",
          li.filter(col("l_extendedprice") <= 0)
            .agg(count(lit(1)).as("n"))))
      },
      Some("""SELECT 'orders_orphan_custkey' AS check,
                     CAST(count(*) AS BIGINT) AS n_violations
              FROM orders o WHERE NOT EXISTS
                (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
              UNION ALL
              SELECT 'lineitem_orphan_orderkey', CAST(count(*) AS BIGINT)
              FROM lineitem l WHERE NOT EXISTS
                (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
              UNION ALL
              SELECT 'part_dup_partkey', CAST(count(*) AS BIGINT)
              FROM (SELECT p_partkey FROM part GROUP BY 1 HAVING count(*) > 1)
              UNION ALL
              SELECT 'lineitem_qty_out_of_range', CAST(count(*) AS BIGINT)
              FROM lineitem WHERE l_quantity < 1 OR l_quantity > 50
              UNION ALL
              SELECT 'customer_null_name', CAST(count(*) AS BIGINT)
              FROM customer WHERE c_name IS NULL
              UNION ALL
              SELECT 'lineitem_nonpositive_price', CAST(count(*) AS BIGINT)
              FROM lineitem WHERE l_extendedprice <= 0""")),

    // ---- p10: multi-epoch shuffle schedule -------------------------------
    // Training runs read the corpus SEVERAL times, and each epoch needs
    // its OWN deterministic permutation (re-reading epoch 1's order is a
    // curriculum bug; orderBy(rand()) is an audit bug). The epoch id is
    // salted into p04's md5 shuffle key — md5(epoch‖':'‖doc_id) — so
    // every epoch gets an independent uniform order while staying a pure
    // function of (epoch, row): reruns, resumed jobs and the oracle
    // agree byte-for-byte. Each doc's global position within its epoch
    // comes from the p02/p04 split prefix sum — the corpus-order count
    // runs bucket-partitioned on (epoch, md5-prefix), the global window
    // sees only the 768 bucket totals, offsets ride back broadcast —
    // and shard assignment is pure integer arithmetic (pos·S div n):
    // every epoch yields the SAME S equal shard sizes, so shard files
    // stay budget-stable across epochs. The epoch fan-out is a GENERATOR
    // (explode over the epoch range): the corpus is scanned once per
    // consumer subtree, never joined against itself. At 100 TB: widen
    // the prefix like p04, write partitionBy(epoch, shard_id), and a
    // resumed epoch re-derives its exact order from the key alone.
    ("p10_epoch_plan",
      (s, d) => {
        val epochs = 3L; val shards = 8L
        def fanout = Tables.documents(s, d)
          .select(col("doc_id"), explode(sequence(lit(0L), lit(epochs - 1))).as("epoch"))
          .withColumn("skey", md5(concat(col("epoch").cast("string"), lit(":"),
            col("doc_id").cast("string"))))
          .withColumn("bkt", substring(col("skey"), 1, 2))
        val wLocal = Window.partitionBy(col("epoch"), col("bkt"))
          .orderBy(col("skey").asc, col("doc_id").asc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val local = fanout.withColumn("lpos",
          coalesce(sum(lit(1L)).over(wLocal), lit(0L)))
        val wBkt = Window.partitionBy(col("epoch")).orderBy(col("bkt").asc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val offsets = fanout.groupBy(col("epoch"), col("bkt"))
          .agg(count(lit(1)).as("bn"))
          .withColumn("boff", coalesce(sum(col("bn")).over(wBkt), lit(0L)))
          .select(col("epoch"), col("bkt"), col("boff"))
        val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
        local.join(broadcast(offsets), Seq("epoch", "bkt"))
          .crossJoin(broadcast(n))
          .withColumn("pos", col("lpos") + col("boff"))
          .select(col("epoch"), col("doc_id"), col("skey"), col("pos"),
            expr(s"pos * $shards div n_docs").as("shard_id"))
      },
      Some("""WITH e AS (SELECT unnest(range(0, 3)) AS epoch),
              t AS (SELECT e.epoch, d.doc_id,
                      md5(CAST(e.epoch AS VARCHAR) || ':'
                          || CAST(d.doc_id AS VARCHAR)) AS skey
                    FROM documents d CROSS JOIN e),
              n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
              c AS (SELECT epoch, doc_id, skey,
                      CAST(row_number() OVER (PARTITION BY epoch
                        ORDER BY skey ASC, doc_id ASC) - 1 AS BIGINT) AS pos
                    FROM t)
              SELECT c.epoch, c.doc_id, c.skey, c.pos,
                     c.pos * 8 // n.n_docs AS shard_id
              FROM c, n""")),

    // ---- p11: shard manifests (the dataset card / audit trail) -----------
    // Every produced training layout needs a manifest: per shard, how
    // many docs, how many REAL tokens, where it starts in the global
    // order, and a content fingerprint (md5 over the ordered doc-id
    // list) that a resumed job, a downstream trainer, or an auditor can
    // recompute to prove the shard on disk is the shard the pipeline
    // meant. Rides p04's exact sharding core (shuffleShards — shared
    // def, not a copy), so manifest and layout can never drift. The
    // fingerprint's collect_list is SHARD-bounded (~budget/doc-tokens
    // docs), never corpus-bounded, and the aggregate runs on the
    // shard key's own exchange; output is one row per shard.
    ("p11_manifest",
      (s, d) => shuffleShards(s, d)
        .groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          min(col("tok_start")).as("tok_start"),
          md5(array_join(
            transform(
              array_sort(collect_list(struct(col("tok_start").as("o"),
                col("doc_id").as("i")))),
              x => x.getField("i").cast("string")),
            ",")).as("content_md5")),
      Some(s"""WITH RECURSIVE ${Bpe.oracleTokenCte},
              t AS (SELECT doc_id, n_tokens,
                     md5(CAST(doc_id AS VARCHAR)) AS skey
                   FROM bpetok),
              c AS (SELECT doc_id, skey, n_tokens,
                     CAST(coalesce(sum(n_tokens) OVER (ORDER BY skey, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS BIGINT) AS tok_start
                    FROM t),
              sh AS (SELECT doc_id, n_tokens, tok_start,
                       CAST(FLOOR(tok_start / 2048.0) AS BIGINT) AS shard_id
                     FROM c)
              SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
                     CAST(min(tok_start) AS BIGINT) AS tok_start,
                     md5(string_agg(CAST(doc_id AS VARCHAR), ','
                         ORDER BY tok_start ASC, doc_id ASC)) AS content_md5
              FROM sh GROUP BY shard_id""")),

    // ---- p12: packing-efficiency report (pad-vs-concat decision) -------
    // p02 packs by concatenation (zero padding, but documents straddle
    // sequence boundaries); the alternative every trainer weighs is
    // DOC-ALIGNED packing — each document starts a fresh sequence, the
    // tail is padded — which wastes (⌈n/cap⌉·cap − n) tokens per doc but
    // never splits a document. This report quantifies that trade per
    // source: padded-sequence count, padding tokens, utilization, and
    // the sequence count p02's concat strategy (applied source-locally)
    // would produce from the same raw tokens —
    // the numbers the pad-vs-concat decision is actually made on. Token
    // counts are the REAL t17 BPE model (same as p02/p04), so the
    // report describes the trainer's tokens, not a proxy. All counters
    // are integers (exact); the single division is gridded. Shape at
    // scale: one codegen'd token-count pass, ONE source-keyed aggregate
    // — no window, no join, output is source-sized.
    ("p12_pack_efficiency",
      (s, d) => {
        val cap = 512L
        // The padded strategy clamps each doc to ≥1 sequence (a
        // doc-aligned packer emits a sequence even for a token-less
        // doc); the n_tokens/concat columns use the RAW counts p02
        // consumes, so "n_seqs_concat" is p02's concat strategy applied
        // source-locally to the same tokens — comparable per source
        // (the registered p02's GLOBAL seq_id space differs by at most
        // one boundary sequence per source).
        val t = Tables.documents(s, d).select(col("source"),
          org.apache.spark.sql.graft.TextHash
            .bpeTokenCountCol(col("text"), Bpe.mergeStrings(s, d)).as("raw"))
          .withColumn("seqs",
            ceil(greatest(col("raw"), lit(1L)).cast("double") / cap).cast("long"))
        t.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("raw")).as("n_tokens"),
            sum(col("seqs")).as("n_seqs_padded"),
            (sum(col("seqs")) * cap - sum(col("raw"))).as("padding_tokens"),
            (floor(sum(col("raw")).cast("double")
              / (sum(col("seqs")) * cap) * 1000000 + 0.5) / 1000000)
              .as("utilization"),
            ceil(sum(col("raw")).cast("double") / cap).cast("long")
              .as("n_seqs_concat"))
      },
      Some(s"""WITH RECURSIVE ${Bpe.oracleTokenCte},
              t AS (SELECT d.source,
                      b.n_tokens AS raw,
                      CAST(ceil(greatest(b.n_tokens, 1) / 512.0) AS BIGINT) AS seqs
                    FROM bpetok b JOIN documents d ON d.doc_id = b.doc_id)
              SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(raw) AS BIGINT) AS n_tokens,
                     CAST(sum(seqs) AS BIGINT) AS n_seqs_padded,
                     CAST(sum(seqs) * 512 - sum(raw) AS BIGINT) AS padding_tokens,
                     FLOOR(CAST(sum(raw) AS DOUBLE) / (sum(seqs) * 512)
                           * 1000000 + 0.5) / 1000000 AS utilization,
                     CAST(ceil(CAST(sum(raw) AS DOUBLE) / 512.0) AS BIGINT)
                       AS n_seqs_concat
              FROM t GROUP BY 1""")),

    // ---- p13: deterministic span corruption (denoising-objective prep) -
    // The data-prep step behind T5/BERT-style denoising training:
    // replace ~15% of each document's tokens, in short contiguous
    // spans, with a sentinel, and emit the removed tokens as the
    // target. The standard recipe draws spans from an RNG; at pipeline
    // scale that's an audit hole (reruns corrupt different spans), so
    // here the draw is the p03/p05 md5-uniform discipline: tokens
    // partition into 3-token blocks, and block b of doc d corrupts iff
    // u32(md5(d ‖ ':' ‖ b)) < ⌊0.15·2³²⌋ — reruns, the oracle, and any
    // auditor reproduce the exact span set. Block-local decisions (no
    // sequential span state) keep the whole operator ONE map-side pass
    // of array HOFs over the token list — no shuffle at all except
    // parquet write; output is corpus-sized by construction.
    ("p13_span_corruption",
      (s, d) => {
        val thr = math.floor(0.15 * 4294967296.0)
        val base = Tables.documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("ws"))
          .withColumn("nb",
            ceil(size(col("ws")) / lit(3.0)).cast("int"))
          .withColumn("flags", expr(
            s"""transform(sequence(0, nb - 1), b ->
               |  CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':',
               |    CAST(b AS STRING))), 1, 8), 16, 10) AS DOUBLE) < ${thr.toLong}.0D)""".stripMargin))
        base.select(col("doc_id"),
            size(col("ws")).cast("long").as("n_tokens"),
            col("nb").cast("long").as("n_blocks"),
            expr("CAST(size(filter(flags, x -> x)) AS BIGINT)")
              .as("n_corrupted_blocks"),
            expr("""CAST(size(filter(transform(sequence(1, size(ws)), i ->
                 CASE WHEN element_at(flags, CAST(floor((i - 1) / 3) AS INT) + 1)
                      THEN element_at(ws, i) END), x -> x IS NOT NULL)) AS BIGINT)""")
              .as("n_corrupted_tokens"),
            expr("""array_join(filter(transform(sequence(1, size(ws)), i ->
                 CASE WHEN element_at(flags, CAST(floor((i - 1) / 3) AS INT) + 1)
                      THEN CASE WHEN (i - 1) % 3 = 0 THEN '<X>' END
                      ELSE element_at(ws, i) END), x -> x IS NOT NULL), ' ')""")
              .as("corrupted_text"),
            expr("""array_join(filter(transform(sequence(1, size(ws)), i ->
                 CASE WHEN element_at(flags, CAST(floor((i - 1) / 3) AS INT) + 1)
                      THEN element_at(ws, i) END), x -> x IS NOT NULL), ' ')""")
              .as("targets"))
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                         FROM documents),
              b AS (SELECT doc_id, ws,
                      CAST(ceil(len(ws) / 3.0) AS BIGINT) AS nb
                    FROM w),
              f AS (SELECT doc_id, ws, nb,
                      list_transform(range(0, nb), b ->
                        list_sum(list_transform(range(1, 9),
                          i -> (strpos('0123456789abcdef',
                                  substr(md5(CAST(doc_id AS VARCHAR) || ':'
                                         || CAST(b AS VARCHAR)), i, 1)) - 1)
                               * 16.0 ** (8 - i))) < 644245094.0) AS flags
                    FROM b)
              SELECT doc_id,
                     CAST(len(ws) AS BIGINT) AS n_tokens,
                     nb AS n_blocks,
                     CAST(len(list_filter(flags, x -> x)) AS BIGINT)
                       AS n_corrupted_blocks,
                     CAST(len(list_filter(list_transform(range(1, len(ws) + 1), i ->
                       CASE WHEN flags[CAST(floor((i - 1) / 3) AS BIGINT) + 1]
                            THEN ws[i] END), x -> x IS NOT NULL)) AS BIGINT)
                       AS n_corrupted_tokens,
                     array_to_string(list_filter(
                       list_transform(range(1, len(ws) + 1), i ->
                         CASE WHEN flags[CAST(floor((i - 1) / 3) AS BIGINT) + 1]
                              THEN (CASE WHEN (i - 1) % 3 = 0 THEN '<X>' END)
                              ELSE ws[i] END), x -> x IS NOT NULL), ' ')
                       AS corrupted_text,
                     coalesce(array_to_string(list_filter(
                       list_transform(range(1, len(ws) + 1), i ->
                         CASE WHEN flags[CAST(floor((i - 1) / 3) AS BIGINT) + 1]
                              THEN ws[i] END), x -> x IS NOT NULL), ' '), '')
                       AS targets
              FROM f""")),

    // ---- p14: temperature-scaled mixture plan (multilingual recipe) ----
    // The OTHER mixture policy a pretraining run needs besides p03's
    // hard budgets: temperature sampling (mT5/XLM-R recipe) — source i
    // gets weight p_i^α / Σ p_j^α, flattening the natural distribution
    // so small sources aren't drowned (α = 1 keeps natural shares,
    // α → 0 approaches uniform). α is pinned to 1/2 so the power is
    // sqrt — CORRECTLY ROUNDED in IEEE 754 on both engines (pow is
    // not), which is what keeps this oracle-exact without gridding the
    // intermediate. Report per source: real-BPE token mass, natural
    // share, temperature weight, the planned token allocation of a
    // half-corpus budget, and the implied epoch count over the source
    // (>1 = that source repeats — the over-sampling audit number).
    // Shape at scale: ONE source-keyed aggregate (map-side combined,
    // sources ≪ rows), then all arithmetic on the source-sized frame;
    // the 1-row total is a broadcast. The corpus never shuffles.
    ("p14_temperature_mix",
      (s, d) => {
        val bySrc = Tables.documents(s, d)
          .select(col("source"),
            org.apache.spark.sql.graft.TextHash
              .bpeTokenCountCol(col("text"), Bpe.mergeStrings(s, d)).as("n_tokens"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tok"))
          .cut
        val tot = bySrc.agg(sum(col("tok")).as("tot"),
          sum(sqrt(col("tok").cast("double"))).as("wsum"))
        bySrc.crossJoin(broadcast(tot))
          .select(col("source"), col("n_docs"), col("tok").as("n_tokens"),
            (floor(col("tok").cast("double") / col("tot") * 1000000 + 0.5) / 1000000)
              .as("nat_share"),
            (floor(sqrt(col("tok").cast("double")) / col("wsum") * 1000000 + 0.5)
              / 1000000).as("weight"),
            floor(sqrt(col("tok").cast("double")) / col("wsum")
              * floor(col("tot") / 2) + 0.5).cast("long").as("planned_tokens"),
            (floor(floor(sqrt(col("tok").cast("double")) / col("wsum")
              * floor(col("tot") / 2) + 0.5) / col("tok") * 1000000 + 0.5) / 1000000)
              .as("epochs"))
      },
      Some(s"""WITH RECURSIVE ${Bpe.oracleTokenCte},
              bysrc AS (SELECT d.source,
                          CAST(count(*) AS BIGINT) AS n_docs,
                          CAST(sum(b.n_tokens) AS BIGINT) AS tok
                        FROM documents d JOIN bpetok b USING (doc_id)
                        GROUP BY 1),
              tot AS (SELECT CAST(sum(tok) AS BIGINT) AS tot,
                             sum(sqrt(CAST(tok AS DOUBLE))) AS wsum
                      FROM bysrc)
              SELECT source, n_docs, tok AS n_tokens,
                     FLOOR(CAST(tok AS DOUBLE) / tot * 1000000 + 0.5) / 1000000
                       AS nat_share,
                     FLOOR(sqrt(CAST(tok AS DOUBLE)) / wsum * 1000000 + 0.5)
                       / 1000000 AS weight,
                     CAST(FLOOR(sqrt(CAST(tok AS DOUBLE)) / wsum
                       * FLOOR(tot / 2) + 0.5) AS BIGINT) AS planned_tokens,
                     FLOOR(FLOOR(sqrt(CAST(tok AS DOUBLE)) / wsum
                       * FLOOR(tot / 2) + 0.5) / tok * 1000000 + 0.5) / 1000000
                       AS epochs
              FROM bysrc, tot""")),

    // ---- p15: dataset balance audit (Gini + source concentration) ------
    // The two inequality numbers a data card reports before anyone
    // trains: the Gini coefficient of per-document token mass (is the
    // corpus a few mega-docs plus dust — packing, sharding and dedup
    // cost all skew with it) and the Herfindahl index of source shares
    // (is the mixture effectively one source). Both are EXACT here:
    // Gini's Σ rank·x and the shares' numerators stay integers until
    // one final gridded division (rank ties broken by doc_id, same
    // rule both engines). The global rank is NOT a single-task sort:
    // docs band by their EXACT token count (the p02/p04 split-prefix-
    // sum discipline; any monotone function of the sort key works, and
    // identity maximizes bands) — band-local ranks run on the band's
    // own partitions, and the only global window orders the BAND
    // TOTALS, a token-range-sized frame whatever the corpus size. (The
    // first cut banded by tok/32: ~10 bands on this corpus capped the
    // rank sort's parallelism at 10 tasks and went 3.2× at the 80×
    // doubling; identity banding restored ~2×.)
    ("p15_balance_audit",
      (s, d) => {
        val t = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            org.apache.spark.sql.graft.TextHash
              .bpeTokenCountCol(col("text"), Bpe.mergeStrings(s, d)).as("tok"))
          .withColumn("band", col("tok"))
          .cut
        val wLocal = Window.partitionBy(col("band"))
          .orderBy(col("tok").asc, col("doc_id").asc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val wBand = Window.orderBy(col("band").asc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val offsets = t.groupBy(col("band")).agg(count(lit(1)).as("bn"))
          .withColumn("boff", coalesce(sum(col("bn")).over(wBand), lit(0L)))
          .select(col("band"), col("boff"))
        // Σ rank·tok and Σ stok² exceed Long around 1e9 docs — the wide
        // sums run in DECIMAL(38) (HUGEINT on the oracle side), so the
        // integers stay exact to ~1e38 and the only rounding remains
        // the final gridded division.
        val gini = t
          .withColumn("lrank", coalesce(sum(lit(1L)).over(wLocal), lit(0L)))
          .join(broadcast(offsets), "band")
          .select((col("lrank") + col("boff") + 1L).as("rank"), col("tok"))
          .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("total_tokens"),
            sum(col("rank").cast("decimal(19,0)") * col("tok").cast("decimal(19,0)"))
              .as("rx"))
          .select(col("n_docs"), col("total_tokens"),
            (floor((lit(2L).cast("decimal(19,0)") * col("rx")
              - (col("n_docs").cast("decimal(19,0)") + 1)
                * col("total_tokens").cast("decimal(19,0)")).cast("double")
              / (col("n_docs").cast("double") * col("total_tokens"))
              * 1000000 + 0.5) / 1000000).as("gini"))
        val hhi = t.groupBy(col("source")).agg(sum(col("tok")).as("stok"))
          .agg(sum(col("stok")).as("tt"),
            sum(col("stok").cast("decimal(19,0)") * col("stok").cast("decimal(19,0)"))
              .as("ss"))
          .select((floor(col("ss").cast("double")
            / (col("tt").cast("double") * col("tt"))
            * 1000000 + 0.5) / 1000000).as("hhi_sources"))
        gini.crossJoin(hhi)
      },
      Some(s"""WITH RECURSIVE ${Bpe.oracleTokenCte},
              t AS (SELECT b.doc_id, d.source, b.n_tokens AS tok
                    FROM bpetok b JOIN documents d USING (doc_id)),
              r AS (SELECT tok,
                      CAST(row_number() OVER (ORDER BY tok ASC, doc_id ASC)
                        AS BIGINT) AS rank
                    FROM t),
              g AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                      CAST(sum(tok) AS BIGINT) AS total_tokens,
                      sum(CAST(rank AS HUGEINT) * tok) AS rx
                    FROM r),
              hh AS (SELECT CAST(sum(stok) AS BIGINT) AS tt,
                       sum(CAST(stok AS HUGEINT) * stok) AS ss
                     FROM (SELECT CAST(sum(tok) AS BIGINT) AS stok
                           FROM t GROUP BY source))
              SELECT n_docs, total_tokens,
                     FLOOR(CAST(2 * rx - (CAST(n_docs AS HUGEINT) + 1)
                                * total_tokens AS DOUBLE)
                           / (CAST(n_docs AS DOUBLE) * total_tokens)
                           * 1000000 + 0.5) / 1000000 AS gini,
                     FLOOR(CAST(ss AS DOUBLE)
                           / (CAST(tt AS DOUBLE) * tt) * 1000000 + 0.5)
                       / 1000000 AS hhi_sources
              FROM g, hh""")),

    // ---- p16: leakage-free split (group-aware assignment) ---------------
    // p05's md5 split has a quiet hole every eval team eventually finds:
    // near-duplicate documents can straddle train/test, and the model is
    // "evaluated" on paraphrases of its training data. The fix is to
    // hash the DEDUP GROUP, not the document: members of a d06 near-dup
    // component share their keeper's id as the split key (standalone
    // docs hash their own), so a whole duplicate cluster lands in one
    // split — p05's determinism and growth-invariance, plus the
    // no-leakage guarantee. Shape at scale: the CC loop is d06's
    // (bounded by the duplicate population); the corpus sees one LEFT
    // join against that small label set and map-side md5 — no extra
    // corpus shuffle.
    ("p16_leakfree_split",
      (s, d) => {
        val scale = 4294967296.0
        Tables.documents(s, d).select(col("doc_id"), col("source"))
          .join(Dedup.ccLabels(s, d), Seq("doc_id"), "left")
          .select(col("doc_id"), col("source"),
            coalesce(col("label"), col("doc_id")).as("split_group"))
          .withColumn("u",
            conv(substring(md5(col("split_group").cast("string")), 1, 8), 16, 10)
              .cast("double"))
          .select(col("doc_id"), col("source"), col("split_group"),
            when(col("u") < scale * 0.8, "train")
              .when(col("u") < scale * 0.9, "val")
              .otherwise("test").as("split"))
      },
      Some(s"""WITH RECURSIVE ${Dedup.oracleCcComponents},
              k AS (SELECT d.doc_id, d.source,
                      coalesce(comp.keeper_id, d.doc_id) AS split_group
                    FROM documents d
                    LEFT JOIN comp ON comp.doc_id = d.doc_id),
              u AS (SELECT doc_id, source, split_group,
                      list_sum(list_transform(range(1, 9),
                        i -> (strpos('0123456789abcdef',
                                substr(md5(CAST(split_group AS VARCHAR)), i, 1)) - 1)
                             * 16.0 ** (8 - i))) AS u
                    FROM k)
              SELECT doc_id, source, split_group,
                     CASE WHEN u < 4294967296.0 * 0.8 THEN 'train'
                          WHEN u < 4294967296.0 * 0.9 THEN 'val'
                          ELSE 'test' END AS split
              FROM u""")),

    // ---- p17: dataset card ----------------------------------------------
    // The per-stratum summary a dataset release ships (Gebru et al. 2021
    // datasheets; every open corpus publishes one): per (source, lang) —
    // volume, token mass, near-dup exposure, learned-quality mass and the
    // length distribution. A composition proof over three existing cores
    // (t18's classifierScores, d06's ccLabels, the corpus itself), so the
    // card can never disagree with the operators it summarizes. Float
    // discipline: per-doc logits land on the micro grid BEFORE the
    // merge-order-dependent sum (integer sum after — the t28 rule);
    // p50 is percentile_cont on integers at p = 1/2 (the (a+b)/2
    // midpoint is dyadic-exact cross-engine). Shape at scale: doc-keyed
    // LEFT join against the bounded dup-label set, one hash-aggregate;
    // the exact-percentile group state is O(distinct n_chars) per
    // stratum — bounded domain, never O(rows).
    ("p17_dataset_card",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
            size(split(col("text"), " ")).cast("long").as("nw"))
        docs
          .join(TextAnalysis.classifierScores(s, d), "doc_id")
          .join(Dedup.ccLabels(s, d), Seq("doc_id"), "left")
          .groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("nw")).as("total_words"),
            sum(when(col("label").isNotNull, 1L).otherwise(0L)).as("n_dup_docs"),
            sum(floor(col("logit") * 1000000 + 0.5).cast("long"))
              .as("sum_logit_micro"),
            expr("CAST(percentile(n_chars, 0.5D) AS DOUBLE)").as("p50_chars"),
            min(col("n_chars")).as("min_chars"),
            max(col("n_chars")).as("max_chars"))
      },
      Some(s"""WITH RECURSIVE ${Dedup.oracleCcComponents},
              ${TextAnalysis.oracleLogitCte},
              dcs AS (SELECT doc_id, source, lang, n_chars,
                        CAST(len(string_split(text, ' ')) AS BIGINT) AS nw
                      FROM documents)
              SELECT d.source, d.lang, count(*) AS n_docs,
                     CAST(sum(d.nw) AS BIGINT) AS total_words,
                     CAST(sum(CASE WHEN cp.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_dup_docs,
                     CAST(sum(CAST(FLOOR(sc.logit * 1000000 + 0.5) AS BIGINT))
                       AS BIGINT) AS sum_logit_micro,
                     quantile_cont(d.n_chars, 0.5) AS p50_chars,
                     min(d.n_chars) AS min_chars, max(d.n_chars) AS max_chars
              FROM dcs d
              JOIN sc USING (doc_id)
              LEFT JOIN comp cp ON cp.doc_id = d.doc_id
              GROUP BY 1, 2""")),

    // ---- p18: per-source token-budget sampling -------------------------
    // The BUDGETED mixture shape (p03 samples by rate, p14 by
    // temperature — production recipes are usually stated as "B tokens
    // from each source"): within every source, docs are taken in
    // md5(doc_id) order (deterministic uniform shuffle — p04/p05's
    // membership discipline, growth-invariant: adding docs never reorders
    // the survivors of the old prefix) until the running token total
    // exceeds the budget; the first doc that would cross the line is cut
    // (hard cap, bounded-above semantics). The running sum is the
    // p02/p04 SPLIT prefix sum, per source: a per-(source, md5-prefix
    // bucket) local cumsum (parallel — a plain per-source window would
    // put an entire source, multiple TB of one slice at 100 TB, through
    // ONE task: window partitions don't AQE-split), bucket totals roll
    // into per-source offsets through a window that sees only
    // |sources|×256 aggregated rows, and offsets broadcast back. Bucket
    // order is the md5-prefix order, so local+offset ≡ the global
    // (h, doc_id) cumsum exactly (the p04 argument — the bucket IS a
    // prefix of the sort key). Output is the audit table (kept/total
    // docs + tokens + fill fraction per source) a mixture builder reads
    // before materializing the kept set; the kept set itself is
    // `cum <= B` on the same frame.
    ("p18_token_budget",
      (s, d) => {
        val budget = 3000L
        val t = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            size(split(col("text"), " ")).cast("long").as("n_tokens"))
          .withColumn("h", md5(col("doc_id").cast("string")))
          .withColumn("bkt", substring(col("h"), 1, 2))
        val wLocal = Window.partitionBy(col("source"), col("bkt"))
          .orderBy(col("h").asc, col("doc_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wBkt = Window.partitionBy(col("source")).orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val offsets = t.groupBy(col("source"), col("bkt"))
          .agg(sum(col("n_tokens")).as("btok"))
          .withColumn("boff", coalesce(sum(col("btok")).over(wBkt), lit(0L)))
          .select(col("source"), col("bkt"), col("boff"))
        t.withColumn("local_cum", sum(col("n_tokens")).over(wLocal))
          .join(broadcast(offsets), Seq("source", "bkt"))
          .withColumn("cum", col("local_cum") + col("boff"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs_total"),
            sum(col("n_tokens")).as("tokens_total"),
            sum(when(col("cum") <= budget, 1L).otherwise(0L)).as("n_docs_kept"),
            sum(when(col("cum") <= budget, col("n_tokens")).otherwise(0L))
              .as("tokens_kept"))
          .select(col("source"), col("n_docs_total"), col("tokens_total"),
            col("n_docs_kept"), col("tokens_kept"),
            (floor(col("tokens_kept").cast("double") / budget * 1000000 + 0.5)
              / 1000000).as("budget_fill"))
      },
      Some("""WITH t AS (
                SELECT doc_id, source,
                       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                       md5(CAST(doc_id AS VARCHAR)) AS h
                FROM documents),
              c AS (
                SELECT *, sum(n_tokens) OVER (
                  PARTITION BY source ORDER BY h ASC, doc_id ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                FROM t)
              SELECT source,
                     CAST(count(*) AS BIGINT) AS n_docs_total,
                     CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
                     CAST(sum(CASE WHEN cum <= 3000 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_docs_kept,
                     CAST(sum(CASE WHEN cum <= 3000 THEN n_tokens ELSE 0 END)
                       AS BIGINT) AS tokens_kept,
                     FLOOR(CAST(sum(CASE WHEN cum <= 3000 THEN n_tokens ELSE 0 END)
                       AS DOUBLE) / 3000 * 1000000 + 0.5) / 1000000 AS budget_fill
              FROM c GROUP BY source"""))
  ): Seq[(String, Q, Option[String])]) ++ Seq(dsirDef, packDef)

  // ---- p19: DSIR importance weights (hashed n-gram features) -----------
  /** Data Selection via Importance Resampling (Xie et al. 2023): score
    * every document by how target-like its hashed n-gram profile is —
    * logw(doc) = Σ_g [ln p̂_target(bucket(g)) − ln p̂_raw(bucket(g))],
    * the log importance ratio under bag-of-hashed-grams unigram models.
    * The target here is the lang='en' slice (standing in for "quality
    * domain sample" — the mechanism, hashed features + smoothed count
    * ratio + per-doc sum, is the production path). Features are
    * unigrams + bigrams hashed to 8192 buckets via the house md5-prefix
    * u32 (p05's recipe), counts Laplace-smoothed (+0.5 per bucket).
    *
    * Scale shape at 100 TB: the MODEL is fixed-size — 8192 buckets
    * regardless of corpus or vocabulary (that is the point of hashed
    * features), built by one gram-stream aggregate whose exchange
    * carries ≤ 8192 rows per task after map-side combine. The learned
    * log-ratios are then collected (64 KB — bounded like Pq's 4096-row
    * sample and Bpe's vocab) and scoring is a map-side array lookup +
    * integer fold INSIDE the scan projection: the scored corpus never
    * shuffles (PlanShapeSpec gates zero exchanges on the returned
    * plan). Per-bucket log-ratios are micro-gridded to integer
    * micronats BEFORE the per-doc sum, so the fold is an exact integer
    * sum — order-free, oracle-exact (the t19 grid argument: ln is
    * libm-owned, per-term ulp ≪ grid slack). */
  // final val without a type ascription = a compile-time constant,
  // inlined at use sites — `defs` forces dsirDef during object init,
  // BEFORE later vals would initialize, so this must not be a field.
  private final val DsirBuckets = 8192

  private def dsirBucket(g: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (conv(substring(md5(g), 1, 8), 16, 10).cast("long") % DsirBuckets).cast("int")

  /** The unigram+bigram gram array per doc — the shared feature stream
    * of the DSIR model build and scoring. Input columns other than
    * `text` pass through untouched, so the scoring path needs only
    * (doc_id, text) while the model build keeps its lang tag. A null
    * text coalesces to "" (one empty-string gram — deterministic,
    * never null-propagating) so an ingest stream with missing text
    * still scores every row. */
  private def dsirGrams(docs: DataFrame): DataFrame = docs
    .withColumn("ws", split(coalesce(col("text"), lit("")), " "))
    .withColumn("gs",
      concat(col("ws"),
        when(size(col("ws")) >= 2, expr(
          "transform(sequence(0, size(ws) - 2), " +
            "i -> concat(element_at(ws, i + 1), ' ', element_at(ws, i + 2)))"))
          .otherwise(slice(col("ws"), 1, 0))))
    .drop("ws", "text")

  /** p19's scoring pass against a FROZEN micronat table: a pure
    * map-side integer fold, so it applies unchanged to a stream
    * (EventPipeline.dsirScoreStream — score documents at ingest against
    * the offline-trained importance model; StreamingSpec pins stream ≡
    * batch). `table` must have [[DsirBuckets]] entries. */
  private[graft] def dsirScore(docs: DataFrame, table: Array[Long]): DataFrame = {
    require(table.length == DsirBuckets, s"model must have $DsirBuckets buckets")
    val lut = typedLit(table.toSeq)
    dsirGrams(docs).select(col("doc_id"),
        size(col("gs")).cast("long").as("n_grams"),
        aggregate(
          transform(col("gs"), gm => element_at(lut, dsirBucket(gm) + 1)),
          lit(0L), (a, v) => a + v).as("logw_micro"))
      .withColumn("logw", col("logw_micro").cast("double") / 1000000)
  }

  /** p19's registered form, fused to ONE gram+md5 pass (r14): the
    * split/bigram construction and the md5 bucket hash are the
    * operator's dominant cost, and a model build followed by
    * [[dsirScore]] runs that kernel over the whole corpus TWICE — once
    * to build the model, once to score against it. Here the per-doc
    * BUCKET ARRAY (ints — the md5 pass's entire output) is
    * materialized once (cut — the d02/d04
    * kernel-materialization pattern); the model build explodes the
    * checkpointed int arrays (the bucket multiset and log-ratio
    * expression order of a build over the text, so the micronat LUT
    * is bit-equal) and the scoring pass keeps its PLAN-GATED
    * map-side shape (PlanShapeSpec: no exchange, no join — the scored
    * corpus never shuffles to apply a fixed-size model), folding the
    * LUT literal over the same arrays instead of re-hashing the text.
    * Per-doc logw_micro is an integer sum of the same multiset either
    * way — exact. The streaming path (frozen-LUT [[dsirScore]]) is
    * unchanged: a stream scores WITHOUT rebuilding the model, so its
    * text-to-fold form is the right shape there. */
  private[graft] def dsirWeightsFused(docs: DataFrame): DataFrame = {
    val bkArr = dsirGrams(docs)
      .select(col("doc_id"), col("lang"),
        transform(col("gs"), gm => dsirBucket(gm)).as("bks"))
      .cut
    val model = bkArr.select(col("lang"), explode(col("bks")).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("cr"),
        count(when(col("lang") === "en", 1)).as("ct"))
    val tot = model.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"))
    val lrm = model.crossJoin(broadcast(tot))
      .select(col("bucket"),
        floor((log((col("ct") + 0.5) / (col("nt") + 4096.0)) -
          log((col("cr") + 0.5) / (col("nr") + 4096.0))) * 1000000 + 0.5)
          .cast("long").as("lrm"))
    val table = Array.fill[Long](DsirBuckets)(0L)
    lrm.collect().foreach(r => table(r.getInt(0)) = r.getLong(1))
    val lut = typedLit(table.toSeq)
    bkArr.select(col("doc_id"),
        size(col("bks")).cast("long").as("n_grams"),
        aggregate(
          transform(col("bks"), b => element_at(lut, b + 1)),
          lit(0L), (a, v) => a + v).as("logw_micro"))
      .withColumn("logw", col("logw_micro").cast("double") / 1000000)
  }

  private lazy val dsirDef: (String, Q, Option[String]) = {
    val B = DsirBuckets
    ("p19_dsir_weights",
      (s, d) => dsirWeightsFused(Tables.documents(s, d)),
      Some(s"""WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
              g AS (SELECT doc_id, lang,
                      list_concat(ws, CASE WHEN len(ws) >= 2
                        THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
                        ELSE []::VARCHAR[] END) AS gs FROM w),
              b AS (SELECT doc_id, lang,
                      CAST(CAST(list_sum(list_transform(range(1, 9),
                        i -> (strpos('0123456789abcdef', substr(md5(gram), i, 1)) - 1)
                             * 16.0 ** (8 - i))) AS BIGINT) % $B AS INT) AS bucket
                    FROM (SELECT doc_id, lang, unnest(gs) AS gram FROM g)),
              m AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cr,
                      CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS ct
                    FROM b GROUP BY 1),
              tot AS (SELECT CAST(sum(cr) AS BIGINT) AS nr,
                             CAST(sum(ct) AS BIGINT) AS nt FROM m),
              lr AS (SELECT bucket,
                      CAST(FLOOR((ln((ct + 0.5) / (nt + 4096.0))
                                  - ln((cr + 0.5) / (nr + 4096.0)))
                        * 1000000 + 0.5) AS BIGINT) AS lrm
                    FROM m, tot),
              sc AS (SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                      CAST(sum(lrm) AS BIGINT) AS logw_micro
                    FROM b JOIN lr USING (bucket) GROUP BY 1)
              SELECT doc_id, n_grams, logw_micro,
                     CAST(logw_micro AS DOUBLE) / 1000000 AS logw FROM sc"""))
  }

  // ---- p20: histogram-based sequence packing (SPFHP) -------------------
  /** Shortest-pack-first histogram packing (Kosec et al. 2021,
    * packedBERT): pack documents into fixed-capacity L=128 training
    * sequences with near-optimal padding, WITHOUT the sequential
    * first-fit scan over the corpus that classical bin packing needs.
    * The key move is that the solver's input is the LENGTH HISTOGRAM —
    * ≤ L rows at any corpus size — so the NP-hard part runs on the
    * driver over a constant-size problem (bounded like Pq's 4096-row
    * sample and Bpe's vocab), and the corpus-side work is embarrassingly
    * parallel: rank docs within their length class by the house
    * md5(doc_id) order (p18's SPLIT prefix rank — (len, md5-prefix
    * bucket) local row_number + broadcast bucket offsets, so no length
    * class funnels through one task), then a BROADCAST range join
    * against the solver's allocation table maps (len, rank) →
    * (pattern, slot, pack). Exchange budget: ONE corpus exchange (the
    * rank window, keyed by len × 256 buckets) + two tiny aggregates —
    * nothing corpus-sized shuffles and nothing grows with the corpus
    * except linearly-partitioned map work.
    *
    * Cross-engine exactness: the solver is deterministic (canonical
    * pattern order, FIFO group splits), its allocation table is
    * exported under the corpus fingerprint (the t17/Bpe judge-
    * sanctioned model-export pattern), and DuckDB re-derives the FULL
    * per-doc assignment — rank, pattern, slot, pack id — from the
    * export plus the raw table; everything the operator DOES is
    * machine-checked, only the solver loop itself is spec-owned
    * (NewOpsSpec pins its invariants: exact-cover of the histogram,
    * fill ≤ L per pack, strictly fewer packs than docs). */
  private lazy val packDef: (String, Q, Option[String]) = {
    val L = 128
    ("p20_histogram_packing",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val t = docs
          .select(col("doc_id"),
            least(size(split(col("text"), " ")), lit(L)).as("len"))
          .withColumn("h", md5(col("doc_id").cast("string")))
        val hist = t.groupBy(col("len")).agg(count(lit(1)).as("n"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        val alloc = spfhpAlloc(hist, L)
        val allocDf = s.createDataFrame(alloc).toDF(
          "alen", "pattern_id", "slot_idx", "rank_lo", "cnt",
          "pack_offset", "pack_fill", "n_slots")
        OracleExport.writeOnce(allocDf,
          OracleExport.PackAllocPath, OracleExport.docKeyFor(docs, d))
        val ranked = splitRank(t, Seq("len"), "doc_id")
        ranked.join(broadcast(allocDf),
            col("len") === col("alen") &&
              col("rk") >= col("rank_lo") &&
              col("rk") < col("rank_lo") + col("cnt"))
          .select(col("doc_id"),
            col("len").cast("long").as("n_tokens"),
            col("rk"),
            col("pattern_id").cast("long").as("pattern_id"),
            col("slot_idx").cast("long").as("slot_idx"),
            (col("pack_offset") + col("rk") - col("rank_lo")).as("pack_id"),
            col("pack_fill").cast("long").as("pack_fill"),
            col("n_slots").cast("long").as("n_slots"))
      },
      Some(s"""WITH t AS (
              SELECT doc_id,
                     LEAST(len(string_split(text, ' ')), $L) AS len,
                     md5(CAST(doc_id AS VARCHAR)) AS h
              FROM documents),
            r AS (
              SELECT doc_id, len,
                     CAST(row_number() OVER (
                       PARTITION BY len ORDER BY h, doc_id) - 1 AS BIGINT) AS rk
              FROM t),
            a AS (SELECT * FROM ${OracleExport.readSql(OracleExport.PackAllocPath)}
                  WHERE corpus_key = ${OracleExport.docKeySql})
            SELECT r.doc_id,
                   CAST(r.len AS BIGINT) AS n_tokens, r.rk,
                   CAST(a.pattern_id AS BIGINT) AS pattern_id,
                   CAST(a.slot_idx AS BIGINT) AS slot_idx,
                   CAST(a.pack_offset + (r.rk - a.rank_lo) AS BIGINT) AS pack_id,
                   CAST(a.pack_fill AS BIGINT) AS pack_fill,
                   CAST(a.n_slots AS BIGINT) AS n_slots
            FROM r JOIN a ON r.len = a.alen
                         AND r.rk >= a.rank_lo AND r.rk < a.rank_lo + a.cnt"""))
  }

  /** The house SPLIT rank, stated once: a 0-based rank in md5 order
    * within each `partCols` group WITHOUT funneling a group through one
    * task. The invariant every caller's oracle equality rests on: the
    * 2-hex bucket is a PREFIX of the sort key `h`, so ordering by
    * (bucket, h, id) equals ordering by (h, id) — the bucket-local
    * row_number plus the broadcast per-bucket offsets therefore equals
    * the global per-group rank a plain window would compute, while the
    * corpus-scale exchange is keyed by group × 256 buckets (no skew
    * funnel) and only the ≤256-per-group offset rows see a group-level
    * window (over aggregated data). Requires columns `h` (md5 hex) and
    * `idCol` (tie-break); adds `rk`. */
  private[operators] def splitRank(df: DataFrame, partCols: Seq[String],
      idCol: String): DataFrame = {
    val withB = df.withColumn("bkt", substring(col("h"), 1, 2))
    val pc = partCols.map(col)
    val wLocal = Window.partitionBy(pc :+ col("bkt"): _*)
      .orderBy(col("h").asc, col(idCol).asc)
    val wBkt = Window.partitionBy(pc: _*).orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = withB.groupBy(pc :+ col("bkt"): _*)
      .agg(count(lit(1)).as("bn"))
      .withColumn("boff", coalesce(sum(col("bn")).over(wBkt), lit(0L)))
      .select((partCols :+ "bkt").map(col) :+ col("boff"): _*)
    withB.withColumn("lrk", row_number().over(wLocal).cast("long"))
      .join(broadcast(offsets), partCols :+ "bkt")
      .withColumn("rk", col("lrk") - 1 + col("boff"))
      .drop("bkt", "lrk", "boff")
  }

  /** The SPFHP solver loop (driver-side, input ≤ L histogram rows):
    * lengths descending; each class fits into the open pack group with
    * the SMALLEST remaining capacity that admits it (splitting the
    * group FIFO when counts differ), else opens a new group. Returns
    * canonical (pattern, count) rows — patterns sorted, counts merged —
    * so pattern ids are reproducible run-to-run. */
  private[graft] def spfhp(hist: Map[Int, Long], L: Int): Seq[(List[Int], Long)] = {
    import scala.collection.mutable
    val open = mutable.TreeMap.empty[Int, mutable.Queue[(List[Int], Long)]]
    for (len <- hist.keys.toSeq.sortBy(-_)) {
      var c = hist(len)
      while (c > 0) {
        open.iteratorFrom(len).find(_._2.nonEmpty) match {
          case Some((rem, q)) =>
            val (pat, cnt) = q.dequeue()
            if (q.isEmpty) open.remove(rem)
            val moved = math.min(c, cnt)
            if (cnt > moved)
              open.getOrElseUpdate(rem, mutable.Queue.empty) += ((pat, cnt - moved))
            open.getOrElseUpdate(rem - len, mutable.Queue.empty) += ((len :: pat, moved))
            c -= moved
          case None =>
            // Nothing open admits this length: open new packs and fill
            // them with the length class ITSELF, histogram-style — m
            // same-length docs per pack (the per-doc SPFHP inner loop
            // collapsed to arithmetic, so counts in the billions cost
            // O(1) here). A lone remainder pack keeps its residual open.
            val m = L / len
            val fullPacks = c / m
            if (fullPacks > 0)
              open.getOrElseUpdate(L - m * len, mutable.Queue.empty) +=
                ((List.fill(m)(len), fullPacks))
            val tail = (c % m).toInt
            if (tail > 0)
              open.getOrElseUpdate(L - tail * len, mutable.Queue.empty) +=
                ((List.fill(tail)(len), 1L))
            c = 0L
        }
      }
    }
    val out = open.values.flatten.toSeq
      .map { case (p, n) => (p.reverse, n) } // insertion order = descending lens
      .groupBy(_._1).map { case (p, g) => (p, g.map(_._2).sum) }
      .toSeq.sortBy(_._1.map(x => f"$x%03d").mkString(","))
    // Exact cover: every histogram doc appears in exactly one pack slot.
    val covered = out.flatMap { case (p, n) => p.map(_ -> n) }
      .groupBy(_._1).map { case (l, g) => l -> g.map(_._2).sum }
    require(covered == hist.filter(_._2 > 0),
      s"SPFHP lost documents: $covered vs $hist")
    out
  }

  /** [[spfhp]] unrolled to the per-(length, pattern, slot) allocation
    * table the assignment joins against: rank_lo gives each slot a
    * contiguous md5-rank interval within its length class; pack_offset
    * gives each pattern a contiguous global pack-id block. Row count is
    * Σ pattern sizes — solver-bounded, broadcast-sized. */
  private[graft] def spfhpAlloc(hist: Map[Int, Long], L: Int)
      : Seq[(Int, Int, Int, Long, Long, Long, Int, Int)] = {
    val pats = spfhp(hist, L)
    val packOff = pats.map(_._2).scanLeft(0L)(_ + _)
    val rankNext = scala.collection.mutable.Map.empty[Int, Long].withDefaultValue(0L)
    for (((pat, n), pid) <- pats.zipWithIndex; (len, slot) <- pat.zipWithIndex) yield {
      val lo = rankNext(len); rankNext(len) = lo + n
      (len, pid, slot, lo, n, packOff(pid), pat.sum, pat.length)
    }
  }

  /** p04's deterministic shuffle + token-budget sharding core —
    * (doc_id, skey, n_tokens, tok_start, shard_id) for every doc. ONE
    * implementation shared by p04 (the layout) and p11 (its manifests):
    * shard assignment and audit can never drift apart. See the p04
    * entry for the split-prefix-sum scale argument. */
  private[operators] def shuffleShards(s: SparkSession, d: String): DataFrame = {
    // Shard budgets in REAL BPE tokens (the t17 model) — a shard is
    // "~2048 trainer tokens", not a whitespace approximation of it.
    val budget = 2048L
    val t = Tables.documents(s, d).select(col("doc_id"),
        org.apache.spark.sql.graft.TextHash
          .bpeTokenCountCol(col("text"), Bpe.mergeStrings(s, d)).as("n_tokens"),
        md5(col("doc_id").cast("string")).as("skey"))
      .withColumn("bkt", substring(col("skey"), 1, 2))
    val wLocal = Window.partitionBy(col("bkt"))
      .orderBy(col("skey"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = t.withColumn("local_start",
      coalesce(sum(col("n_tokens")).over(wLocal), lit(0L)))
    val wBkt = Window.orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = t.groupBy(col("bkt")).agg(sum(col("n_tokens")).as("btok"))
      .withColumn("boff", coalesce(sum(col("btok")).over(wBkt), lit(0L)))
      .select(col("bkt"), col("boff"))
    local.join(broadcast(offsets), "bkt")
      .select(col("doc_id"), col("skey"), col("n_tokens"),
        (col("local_start") + col("boff")).as("tok_start"))
      .withColumn("shard_id", floor(col("tok_start") / budget).cast("long"))
  }
}
