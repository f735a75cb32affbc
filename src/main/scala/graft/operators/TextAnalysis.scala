package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Text analysis over the `documents` table — language ID, quality
  * scoring, token counting, fingerprinting. The training-data-pipeline
  * surface beyond the reference's relational core.
  *
  * Every operator is a single narrow map-side pass (no shuffle until the
  * caller aggregates): per-row higher-order-function compositions that stay
  * inside whole-stage codegen. At 100 TB these run at parquet-scan speed —
  * the scan is the bottleneck, which is the right shape.
  *
  * Determinism contract: each query's formula is mirrored token-for-token
  * in the DuckDB oracle SQL (same tokenization, same tie-breaks, same IEEE
  * operation order), so the driver's hash-compare is stable.
  */
object TextAnalysis {
  type Q = (SparkSession, String) => DataFrame

  /** Language marker sets (stopword heuristic). The corpus vocabulary is
    * synthetic, so the *mechanism* (per-language marker counting + argmax
    * with fixed tie-break) is what the oracle checks — the same code on a
    * real corpus with real stopword lists is the production path. */
  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "los", "de", "y"),
    "fr" -> Seq("le", "la", "les", "de", "et"))

  private def words(c: Column): Column = split(c, " ")

  private def micro(c: Column): Column = floor(c * 1000000 + 0.5) / 1000000

  /** Shared bigram-LM scoring core — the ONE implementation behind t15
    * (score + perplexity) and t16 (per-language bucketing of the same
    * score), so the bigram construction, the MLE formula and the count-
    * window plan shape can never drift between the score an op reports
    * and the score another op ranks. Returns one row per doc:
    * (doc_id, extra..., n_bigrams, slp = Σ ln(c_ab / c_a)). Model counts
    * ride count WINDOWS on the bigram stream's own exchanges
    * (bigram-keyed, then left-word-keyed) — t07/t12's invariant: nothing
    * vocabulary-sized is ever broadcast, joined or collected. */
  private def lmScored(docs: DataFrame, extra: Seq[String]): DataFrame = {
    val keys = col("doc_id") +: extra.map(col)
    docs.select(keys :+ words(col("text")).as("ws"): _*)
      .filter(size(col("ws")) >= 2)
      .select(keys :+ explode(expr(
        "transform(sequence(0, size(ws) - 2), " +
          "i -> concat(element_at(ws, i + 1), ' ', element_at(ws, i + 2)))")).as("bigram"): _*)
      .withColumn("w1", element_at(split(col("bigram"), " "), 1))
      .withColumn("c_ab", count(lit(1)).over(Window.partitionBy(col("bigram"))))
      .withColumn("c_a", count(lit(1)).over(Window.partitionBy(col("w1"))))
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n_bigrams"),
        sum(log(col("c_ab").cast("double") / col("c_a"))).as("slp"))
  }

  /** DuckDB mirror of [[lmScored]], shared by the t15/t16 oracles the
    * same way (extraSel like ", lang" flows the extra key through). */
  private def lmOracleCte(extraSel: String): String =
    s"""w AS (SELECT doc_id$extraSel, string_split(text, ' ') AS ws FROM documents),
       |bg AS (SELECT doc_id$extraSel, ws[i] || ' ' || ws[i+1] AS bigram, ws[i] AS w1
       |       FROM (SELECT doc_id$extraSel, ws, unnest(range(1, len(ws))) AS i
       |             FROM w WHERE len(ws) >= 2)),
       |cab AS (SELECT bigram, CAST(count(*) AS BIGINT) AS c_ab FROM bg GROUP BY bigram),
       |ca AS (SELECT w1, CAST(count(*) AS BIGINT) AS c_a FROM bg GROUP BY w1),
       |sc AS (SELECT doc_id$extraSel, count(*) AS n_bigrams,
       |              sum(ln(CAST(c_ab AS DOUBLE) / c_a)) AS slp
       |       FROM bg JOIN cab USING (bigram) JOIN ca USING (w1)
       |       GROUP BY ALL)""".stripMargin

  /** THE quality formula — single source of truth for t02, p01, and
    * d09, each of which must stay bit-identical to its DuckDB oracle
    * mirror AND to the others (d09's keeper choice composes p01's gate
    * score): length cap · 0.5 + type-token ratio · 0.3 +
    * (1 − stop-word ratio) · 0.2. */
  def qualityScore(nWords: Column, nDistinct: Column, nStop: Column): Column =
    least(lit(1.0), nWords.cast("double") / 100.0) * 0.5 +
      (nDistinct.cast("double") / nWords) * 0.3 +
      (lit(1.0) - nStop.cast("double") / nWords) * 0.2

  private def countIn(w: Column, set: Seq[String]): Column =
    size(filter(w, x => x.isInCollection(set))).cast("long")

  private def sqlCountIn(set: Seq[String]): String =
    s"len(list_filter(w, x -> x IN (${set.map("'" + _ + "'").mkString(",")})))"

  /** t20's iteration count — ONE constant drives both the Spark loop and
    * the oracle's unrolled CTE chain (r$TrIters tail included).
    * Declared BEFORE defs: a val after it would still be 0 (primitive
    * default) when the defs Seq initializes. */
  private val TrIters = 10

  val defs: Seq[(String, Q, Option[String])] = Seq(

    // ---- t01: language ID by marker-word scoring ----------------------
    ("t01_langid", (s, d) => langScored(s, d),
      Some(s"""WITH $oracleLangPredCte
               SELECT doc_id, en_score, de_score, es_score, fr_score, pred_lang
               FROM pred""")),

    // ---- t02: quality scoring (length / diversity / stopword ratios) --
    // Features come from the single-pass kernel in RAW mode (tokenize
    // the as-ingested text on spaces, no normalization) — one scan per
    // row instead of the split/array-HOF chain Catalyst would re-inline
    // into every referencing column (measured ~5× on full writes).
    ("t02_quality",
      (s, d) => {
        val stop = markers.flatMap(_._2).distinct
        Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars"),
            org.apache.spark.sql.graft.TextHash
              .qualityFeaturesCol(col("text"), stop, normalize = false).as("f"))
          .select(col("doc_id"), col("n_chars"),
            col("f.n_words").as("n_words"),
            col("f.n_distinct").as("n_distinct"),
            col("f.n_stop").as("n_stop"))
          .select(col("doc_id"), col("n_chars"), col("n_words"), col("n_distinct"),
            (col("n_distinct").cast("double") / col("n_words")).as("ttr"),
            (col("n_stop").cast("double") / col("n_words")).as("stop_ratio"),
            qualityScore(col("n_words"), col("n_distinct"), col("n_stop")).as("quality"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, n_chars, string_split(text, ' ') AS w FROM documents),
               c AS (SELECT doc_id, n_chars,
                       len(w) AS n_words,
                       len(list_distinct(w)) AS n_distinct,
                       ${sqlCountIn(markers.flatMap(_._2).distinct)} AS n_stop
                     FROM toks)
               SELECT doc_id, n_chars, n_words, n_distinct,
                      n_distinct * 1.0 / n_words AS ttr,
                      n_stop * 1.0 / n_words AS stop_ratio,
                      least(1.0, n_words * 1.0 / 100.0) * 0.5
                        + (n_distinct * 1.0 / n_words) * 0.3
                        + (1.0 - n_stop * 1.0 / n_words) * 0.2 AS quality
               FROM c""")),

    // ---- t03: token counting (whitespace + BPE-ish regex) -------------
    ("t03_tokens",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          size(words(col("text"))).cast("long").as("ws_tokens"),
          size(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0)))
            .cast("long").as("word_tokens"),
          // BPE-ish estimate: subword pieces of ≤4 chars per alnum run.
          aggregate(
            transform(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0)),
              t => ceil(length(t).cast("double") / 4.0).cast("long")),
            lit(0L), (acc, v) => acc + v).as("bpe_est")),
      Some("""WITH m AS (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS toks FROM documents)
              SELECT doc_id,
                     len(string_split((SELECT text FROM documents d2 WHERE d2.doc_id = m.doc_id), ' ')) AS ws_tokens,
                     len(toks) AS word_tokens,
                     CAST(list_sum(list_transform(toks, t -> CAST(ceil(len(t) * 1.0 / 4.0) AS BIGINT))) AS BIGINT) AS bpe_est
              FROM m""")),

    // ---- t08: PII redaction (emails, IPs) ------------------------------
    // The scrub pass every LLM curation pipeline runs before training.
    // Pure map-side regex work at scan speed. The corpus is synthetic, so
    // PII-shaped strings are planted deterministically from doc fields;
    // patterns are chosen to behave identically under Java regex and
    // RE2 (the oracle's engine). Replacement is sequential (emails, then
    // IPs over the email-redacted text), and the count mirrors that
    // order — counting both patterns on the raw text would overcount
    // when they overlap (e.g. "1.2.3.4@ab.cd": the email match consumes
    // the IP's last octet).
    ("t08_redact",
      (s, d) => {
        val email = "[a-z0-9]+@[a-z]+\\.[a-z]+"
        val ip = "[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+"
        Tables.documents(s, d).filter(col("doc_id") < 200)
          .select(col("doc_id"),
            concat(col("text"), lit(" contact u"), col("doc_id"),
              lit("@mail.com or 192.168.0."), col("doc_id") % 256).as("raw"))
          .select(col("doc_id"),
            regexp_replace(col("raw"), email, "<EMAIL>").as("no_email"),
            regexp_count(col("raw"), lit(email)).as("n_email"))
          .select(col("doc_id"),
            regexp_replace(col("no_email"), ip, "<IP>").as("clean"),
            (col("n_email") + regexp_count(col("no_email"), lit(ip)))
              .cast("long").as("n_redacted"))
      },
      Some("""WITH e AS (SELECT doc_id,
                           text || ' contact u' || doc_id || '@mail.com or 192.168.0.' || (doc_id % 256) AS raw
                         FROM documents WHERE doc_id < 200),
              ne AS (SELECT doc_id,
                       regexp_replace(raw, '[a-z0-9]+@[a-z]+\.[a-z]+', '<EMAIL>', 'g') AS no_email,
                       len(regexp_extract_all(raw, '[a-z0-9]+@[a-z]+\.[a-z]+')) AS n_email
                     FROM e)
              SELECT doc_id,
                     regexp_replace(no_email, '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+', '<IP>', 'g') AS clean,
                     CAST(n_email
                          + len(regexp_extract_all(no_email, '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+')) AS BIGINT) AS n_redacted
              FROM ne""")),

    // ---- t04: winnowing-style document fingerprint --------------------
    // Sliding 5-token windows, md5 each, fingerprint = lexicographic min
    // (the winnowing min-hash idea with window = whole doc). One map-side
    // pass; md5 is identical across engines so it is oracle-checkable.
    ("t04_fingerprint",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), words(col("text")).as("w"))
        .select(col("doc_id"),
          when(size(col("w")) >= 5,
            transform(sequence(lit(1), size(col("w")) - 4),
              i => md5(concat_ws(" ", slice(col("w"), i, lit(5))))))
            .otherwise(array(md5(concat_ws(" ", col("w"))))).as("fps"))
        .select(col("doc_id"),
          size(col("fps")).cast("long").as("n_windows"),
          array_min(col("fps")).as("fingerprint")),
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              fps AS (SELECT doc_id,
                        CASE WHEN len(w) >= 5
                          THEN list_transform(range(1, len(w) - 3),
                                 i -> md5(array_to_string(w[i:i+4], ' ')))
                          ELSE [md5(array_to_string(w, ' '))] END AS fp
                      FROM toks)
              SELECT doc_id, len(fp) AS n_windows, list_min(fp) AS fingerprint
              FROM fps""")),

    // ---- t05: text normalization (the ingest-side cleaning pass) ------
    // lowercase → strip non-alnum → collapse runs of spaces → trim. Pure
    // map-side regex work; at 100 TB this runs at scan speed and feeds
    // every downstream dedup/fingerprint pass one canonical form.
    ("t05_normalize",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          trim(regexp_replace(
            regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""),
            " +", " ")).as("norm_text"))
        .withColumn("n_chars_norm", length(col("norm_text")).cast("long")),
      Some("""SELECT doc_id,
                     trim(regexp_replace(
                       regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                       ' +', ' ', 'g')) AS norm_text,
                     len(trim(regexp_replace(
                       regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                       ' +', ' ', 'g'))) AS n_chars_norm
              FROM documents""")),

    // ---- t09: per-language length statistics ---------------------------
    // The distribution input to training-batch packing (sequence-length
    // buckets, padding budgets): exact interpolated percentiles via
    // Spark's percentile aggregate — one hash-aggregate pass, map-side
    // partial combine, group cardinality = languages.
    ("t09_length_stats",
      (s, d) => {
        def cents(c: Column) = floor(c * 100 + 0.5) / 100
        Tables.documents(s, d)
          .select(col("lang"), size(words(col("text"))).cast("long").as("n_words"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
               min(col("n_words")).as("min_words"),
               max(col("n_words")).as("max_words"),
               cents(avg(col("n_words"))).as("avg_words"),
               cents(percentile(col("n_words"), lit(0.5))).as("p50"),
               cents(percentile(col("n_words"), lit(0.9))).as("p90"))
      },
      Some("""WITH t AS (SELECT lang, len(string_split(text, ' ')) AS n_words FROM documents)
              SELECT lang, count(*) AS n_docs,
                     min(n_words) AS min_words, max(n_words) AS max_words,
                     FLOOR(avg(n_words) * 100 + 0.5) / 100 AS avg_words,
                     FLOOR(quantile_cont(n_words, 0.5) * 100 + 0.5) / 100 AS p50,
                     FLOOR(quantile_cont(n_words, 0.9) * 100 + 0.5) / 100 AS p90
              FROM t GROUP BY lang""")),

    // ---- t06: corpus vocabulary (global token frequencies, top 20) ----
    // The BPE-training / stopword-discovery primitive. Shape at scale:
    // explode → hash-aggregate with map-side partial combine (the shuffle
    // carries one row per distinct token per partition, not per token
    // occurrence) → distributed top-k. Deterministic tie-break on word.
    ("t06_vocab",
      (s, d) => Tables.documents(s, d)
        .select(explode(words(col("text"))).as("word"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("word").asc)
        .limit(20),
      Some("""SELECT word, count(*) AS freq
              FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
              GROUP BY word ORDER BY freq DESC, word ASC LIMIT 20""")),

    // ---- t07: per-document top terms by tf-idf -------------------------
    // Classic relevance weighting, composed with the custom GroupedTopK
    // operator for the per-doc top-5 (bounded heap, not a full per-doc
    // sort). Score is the rational form tf·N/df rather than tf·ln(N/df):
    // with small-integer inputs it is IEEE-exact on both engines, where
    // ln() is only guaranteed correctly-rounded per-libm — a last-ulp
    // hazard the hash-compare gate would trip on. Ranking is identical
    // (ln is monotone in N/df).
    ("t07_tfidf",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val tf = docs
          .select(col("doc_id"), explode(words(col("text"))).as("term"))
          .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        // df = docs-per-term, computed as a count window OVER tf keyed by
        // term (tf already has exactly one row per (doc, term)). At 100 TB
        // the vocabulary is billions of terms, so a broadcast of any
        // per-term table is a guaranteed OOM and even a shuffle join pays
        // a second scan + exchange; the window rides ONE term-keyed
        // exchange and nothing vocabulary-sized ever leaves the executors.
        // The only broadcast left is `n` — a single row.
        val n = docs.select(countDistinct(col("doc_id")).as("n_docs"))
        val termW = org.apache.spark.sql.expressions.Window.partitionBy(col("term"))
        val scored = tf.withColumn("df", count(lit(1)).over(termW))
          .crossJoin(broadcast(n))
          .select(col("doc_id"), col("term"),
            (col("tf").cast("double") * col("n_docs") / col("df")).as("tfidf"))
        org.apache.spark.sql.graft.GroupedTopKApi.topKPerGroup(
          scored, Seq("doc_id"), Seq("tfidf" -> true, "term" -> false), 5)
      },
      Some("""WITH tf AS (
                SELECT doc_id, unnest(string_split(text, ' ')) AS term
                FROM documents),
              tfc AS (SELECT doc_id, term, count(*) AS tf FROM tf GROUP BY 1, 2),
              dfc AS (SELECT term, count(DISTINCT doc_id) AS df FROM tfc GROUP BY 1),
              n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
              scored AS (
                SELECT doc_id, term, tf * 1.0 * n_docs / df AS tfidf
                FROM tfc JOIN dfc USING (term), n)
              SELECT doc_id, term, tfidf FROM (
                SELECT doc_id, term, tfidf,
                       row_number() OVER (PARTITION BY doc_id
                         ORDER BY tfidf DESC, term ASC) AS rn
                FROM scored)
              WHERE rn <= 5""")),

    // ---- t10: repetition / boilerplate signals -------------------------
    // The Gopher/MassiveText repetition filters: share of the most
    // frequent unigram and bigram, and the distinct-word ratio — docs
    // dominated by one phrase (navigation chrome, keyword stuffing,
    // degenerate generations) score high/low and get filtered. The
    // declarative form is explode + two groupBy rounds = two corpus
    // shuffles for a PER-DOC statistic; RepetitionFeatures computes all
    // five counters in one map-side kernel pass, zero exchanges (the
    // shares below stay inside one codegen'd projection — Catalyst's
    // codegen-level CSE dedups the repeated array refs within a single
    // Project, unlike the cross-operator case that bit p01).
    ("t10_repetition",
      (s, d) => {
        // Same double op order as the oracle (count*1e6 first — exact for
        // counts < 2^53/1e6 — THEN the one division): a divide-then-
        // multiply form double-rounds and can floor across a grid
        // boundary the oracle doesn't.
        def share(num: Column, den: Column) = floor(num * 1e6 / den + 0.5) / 1e6
        Tables.documents(s, d)
          .select(col("doc_id"),
            org.apache.spark.sql.graft.TextHash.repetitionFeaturesCol(col("text")).as("r"))
          .select(col("doc_id"),
            col("r")(0).as("n_words"),
            share(col("r")(2), col("r")(0)).as("top_word_share"),
            when(col("r")(3) > 0, share(col("r")(4), col("r")(3)))
              .otherwise(lit(0.0)).as("top_bigram_share"),
            share(col("r")(1), col("r")(0)).as("distinct_ratio"))
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
              uc AS (SELECT doc_id, word, count(*) AS c
                     FROM (SELECT doc_id, unnest(ws) AS word FROM w)
                     GROUP BY doc_id, word),
              us AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_word,
                            CAST(sum(c) AS BIGINT) AS n_words,
                            CAST(count(*) AS BIGINT) AS n_distinct
                     FROM uc GROUP BY doc_id),
              bc AS (SELECT doc_id, bg, count(*) AS c
                     FROM (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bg
                           FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
                                 FROM w WHERE len(ws) >= 2))
                     GROUP BY doc_id, bg),
              bs AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bigram,
                            CAST(sum(c) AS BIGINT) AS n_bigrams
                     FROM bc GROUP BY doc_id)
              SELECT u.doc_id, u.n_words,
                     FLOOR(u.top_word * 1e6 / u.n_words + 0.5) / 1e6 AS top_word_share,
                     coalesce(FLOOR(b.top_bigram * 1e6 / b.n_bigrams + 0.5) / 1e6, 0.0)
                       AS top_bigram_share,
                     FLOOR(u.n_distinct * 1e6 / u.n_words + 0.5) / 1e6 AS distinct_ratio
              FROM us u LEFT JOIN bs b ON u.doc_id = b.doc_id""")),

    // ---- t11: collocation extraction (top bigrams by PMI) --------------
    // The phrase-mining / tokenizer-merge primitive: bigrams whose joint
    // frequency beats the independence assumption. Score is the RATIONAL
    // form c_ab·N/(c_a·c_b) instead of its log (t07's lesson: monotone
    // transform, identical ranking, but exact in IEEE where ln is only
    // per-libm) with the identical double op order mirrored in the
    // oracle. Shape at scale: two map-side-combined hash aggregates
    // (token and bigram counts — shuffle rows are per-distinct-term per
    // partition), min-support prunes the bigram table BEFORE the two
    // vocabulary-keyed joins, the corpus total joins as a broadcast
    // scalar, and the top-k is TakeOrdered — no global sort.
    ("t11_pmi",
      (s, d) => {
        val ws = Tables.documents(s, d).select(words(col("text")).as("ws"))
        val uni = ws.select(explode(col("ws")).as("word"))
          .groupBy(col("word")).agg(count(lit(1)).as("c"))
        val tot = uni.agg(sum(col("c")).as("n"))
        val bi = ws.filter(size(col("ws")) >= 2)
          .select(explode(expr(
            "transform(sequence(0, size(ws) - 2), " +
              "i -> concat(element_at(ws, i + 1), ' ', element_at(ws, i + 2)))")).as("bigram"))
          .groupBy(col("bigram")).agg(count(lit(1)).as("c_ab"))
          .filter(col("c_ab") >= 5)
        bi.withColumn("w1", element_at(split(col("bigram"), " "), 1))
          .withColumn("w2", element_at(split(col("bigram"), " "), 2))
          .join(uni.select(col("word").as("w1"), col("c").as("c1")), "w1")
          .join(uni.select(col("word").as("w2"), col("c").as("c2")), "w2")
          .crossJoin(broadcast(tot))
          .withColumn("pmi_r",
            col("c_ab") * lit(1.0) * col("n") / col("c1") / col("c2"))
          .orderBy(col("pmi_r").desc, col("bigram").asc).limit(50)
          .select(col("bigram"), col("c_ab"),
            (floor(col("pmi_r") * 1e6 + 0.5) / 1e6).as("pmi"))
      },
      Some("""WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
              uni AS (SELECT word, CAST(count(*) AS BIGINT) AS c
                      FROM (SELECT unnest(ws) AS word FROM w) GROUP BY word),
              tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
              bi AS (SELECT bg, CAST(count(*) AS BIGINT) AS c_ab
                     FROM (SELECT ws[i] || ' ' || ws[i+1] AS bg
                           FROM (SELECT ws, unnest(range(1, len(ws))) AS i
                                 FROM w WHERE len(ws) >= 2))
                     GROUP BY bg HAVING count(*) >= 5),
              s AS (SELECT bg, c_ab,
                           c_ab * 1.0 * (SELECT n FROM tot)
                             / ua.c / ub.c AS pmi_r
                    FROM bi
                    JOIN uni ua ON ua.word = string_split(bg, ' ')[1]
                    JOIN uni ub ON ub.word = string_split(bg, ' ')[2])
              SELECT bg AS bigram, c_ab,
                     FLOOR(pmi_r * 1e6 + 0.5) / 1e6 AS pmi
              FROM s ORDER BY pmi_r DESC, bg ASC LIMIT 50""")),

    // ---- t12: per-document vocabulary rarity ----------------------------
    // The "does this doc use unusual vocabulary" quality signal (rare-word
    // ratio in production filters; on this synthetic corpus the vocabulary
    // is tiny and uniformly common, so the statistics reported are the df
    // moments themselves — min/sum/mean document frequency over the doc's
    // distinct words). Integer-exact except the one final division.
    // Shape at scale: t07's lesson applied — df is a count window OVER the
    // (doc, word)-distinct stream keyed by word, so nothing
    // vocabulary-sized is ever broadcast or joined; then one doc-keyed
    // aggregate. Two exchanges total, both of the distinct-pair stream.
    ("t12_doc_rarity",
      (s, d) => {
        val dw = Tables.documents(s, d)
          .select(col("doc_id"),
            explode(array_distinct(words(col("text")))).as("word"))
        val wWord = org.apache.spark.sql.expressions.Window.partitionBy(col("word"))
        dw.withColumn("df", count(lit(1)).over(wWord))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_distinct"),
               min(col("df")).as("min_df"),
               sum(col("df")).as("sum_df"))
          .select(col("doc_id"), col("n_distinct"), col("min_df"), col("sum_df"),
            (floor(col("sum_df") * 1e6 / col("n_distinct") + 0.5) / 1e6).as("mean_df"))
      },
      Some("""WITH w0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
              dw AS (SELECT DISTINCT doc_id, word FROM w0),
              df AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM dw GROUP BY word)
              SELECT doc_id, count(*) AS n_distinct,
                     min(df) AS min_df, CAST(sum(df) AS BIGINT) AS sum_df,
                     FLOOR(CAST(sum(df) AS BIGINT) * 1e6 / count(*) + 0.5) / 1e6 AS mean_df
              FROM dw JOIN df USING (word)
              GROUP BY doc_id""")),

    // ---- t13: keyword search with BM25 ranking --------------------------
    // Full-text relevance search — the retrieval capability class (t07 is
    // per-doc term EXTRACTION; this RANKS docs against a query). Scoring
    // is Okapi BM25 with a RATIONAL idf ((N−df+0.5)/(df+0.5), no log):
    // monotone in the standard idf, so the ranking is identical, and the
    // score is a fixed sequence of IEEE ops both engines execute
    // bit-identically — exact hash parity with no rounding grid.
    // Shape at 100 TB: tf/dl are one map-side pass per doc; the corpus
    // statistics (N, Σdl, per-term df) are ONE tiny aggregate row that
    // returns as a broadcast; scoring is map-side expression work and the
    // top-k is TakeOrdered (per-partition heaps, no global sort). The
    // corpus is scanned twice (stats + score) and never shuffled; a
    // standing deployment would persist the stats row and scan once.
    ("t13_bm25_search",
      (s, d) => bm25Top20(s, d),
      Some(s"""WITH $oracleBm25Cte
              SELECT doc_id, dl, tf_spark, tf_join, tf_window, score FROM top20""")),

    // ---- t14: Zipf rank-frequency fit per source -------------------------
    // Corpus-distribution diagnostics: fit ln(freq) = a·ln(rank) + b over
    // each source's top terms (natural text slopes ≈ −1; a source whose
    // slope collapses toward 0 is template/boilerplate output, one that
    // steepens is degenerate repetition — a standard corpus-health check
    // before training). Shape at 100 TB: unigram counts are ONE
    // map-side-combined corpus exchange down to (source × vocab); the
    // rank window partitions BY SOURCE (parallel, never a global sort),
    // a min-support filter bounds what gets ranked, and the regression
    // is a tiny mergeable aggregate (regr_slope/intercept/r2 are moment
    // sums). ln is per-libm so the fit lands on the micro grid.
    ("t14_zipf",
      (s, d) => {
        val wRank = Window.partitionBy(col("source"))
          .orderBy(col("c").desc, col("word").asc)
        val counts = Tables.documents(s, d)
          .select(col("source"), explode(words(col("text"))).as("word"))
          .groupBy(col("source"), col("word")).agg(count(lit(1)).as("c"))
          .filter(col("c") >= 5)
          .withColumn("rnk", row_number().over(wRank))
          .filter(col("rnk") <= 30)
        counts.groupBy(col("source"))
          .agg(count(lit(1)).as("n_terms"),
            micro(regr_slope(log(col("c")), log(col("rnk")))).as("zipf_slope"),
            micro(regr_intercept(log(col("c")), log(col("rnk")))).as("zipf_icpt"),
            micro(regr_r2(log(col("c")), log(col("rnk")))).as("fit_r2"))
      },
      Some("""WITH uc AS (SELECT source, word, CAST(count(*) AS BIGINT) AS c
                          FROM (SELECT source, unnest(string_split(text, ' ')) AS word
                                FROM documents)
                          GROUP BY source, word HAVING count(*) >= 5),
              rk AS (SELECT source, c,
                            row_number() OVER (PARTITION BY source
                              ORDER BY c DESC, word ASC) AS rnk
                     FROM uc)
              SELECT source, count(*) AS n_terms,
                     FLOOR(regr_slope(ln(c), ln(rnk)) * 1000000 + 0.5) / 1000000 AS zipf_slope,
                     FLOOR(regr_intercept(ln(c), ln(rnk)) * 1000000 + 0.5) / 1000000 AS zipf_icpt,
                     FLOOR(regr_r2(ln(c), ln(rnk)) * 1000000 + 0.5) / 1000000 AS fit_r2
              FROM rk WHERE rnk <= 30
              GROUP BY source""")),

    // ---- t15: bigram language-model scoring (perplexity filter) ---------
    // The CCNet/KenLM quality gate re-expressed: train a bigram model on
    // the corpus (MLE: P(w2|w1) = c(w1w2) / c(w1 as bigram-left)) and
    // score every doc by its average log-probability and pseudo-
    // perplexity — fluent docs score near the corpus distribution,
    // boilerplate and word salad fall outside. Shape at 100 TB: the
    // bigram stream (kept WITH multiplicity) gets its model counts from
    // two count WINDOWS riding the stream's own exchanges (bigram-keyed,
    // then left-word-keyed) — t07/t12's invariant: nothing
    // vocabulary-sized is ever broadcast or collected — then one
    // doc-keyed aggregate. Three exchanges total, all of the bigram
    // stream. ln per-libm + merge-order-dependent sum → micro grid.
    ("t15_ngram_lm",
      (s, d) => lmScored(Tables.documents(s, d), Nil)
        .select(col("doc_id"), col("n_bigrams"),
          micro(col("slp") / col("n_bigrams")).as("avg_logp"),
          micro(exp(-col("slp") / col("n_bigrams"))).as("ppl")),
      Some(s"""WITH ${lmOracleCte("")}
               SELECT doc_id, n_bigrams,
                      FLOOR(slp / n_bigrams * 1000000 + 0.5) / 1000000 AS avg_logp,
                      FLOOR(exp(-(slp / n_bigrams)) * 1000000 + 0.5) / 1000000 AS ppl
               FROM sc""")),

    // ---- t16: perplexity bucketing (CCNet head/middle/tail) --------------
    // CCNet's routing step: per LANGUAGE, rank docs by LM score and cut
    // into terciles — "head" trains as-is, "middle" gets reviewed,
    // "tail" is dropped or down-weighted. Buckets come from ntile(3)
    // over (gridded avg_logp, doc_id): the grid first, THEN the rank,
    // so the ordering both engines ntile over is the already-agreed
    // value, not a raw libm double whose last ulp could flip a tercile
    // boundary. Shape at 100 TB: t15's scoring plus one lang-keyed
    // window over (doc, score) rows — per-language rank, never a global
    // sort.
    ("t16_ppl_buckets",
      (s, d) => {
        val scored = lmScored(Tables.documents(s, d), Seq("lang"))
          .select(col("doc_id"), col("lang"),
            micro(col("slp") / col("n_bigrams")).as("avg_logp"))
        val wLang = Window.partitionBy(col("lang"))
          .orderBy(col("avg_logp").desc, col("doc_id").asc)
        scored.withColumn("tercile", ntile(3).over(wLang).cast("long"))
          .withColumn("bucket",
            when(col("tercile") === 1, "head")
              .when(col("tercile") === 2, "middle")
              .otherwise("tail"))
      },
      Some(s"""WITH ${lmOracleCte(", lang")},
              g AS (SELECT doc_id, lang,
                           FLOOR(slp / n_bigrams * 1000000 + 0.5) / 1000000 AS avg_logp
                    FROM sc),
              rk AS (SELECT doc_id, lang, avg_logp,
                            CAST(ntile(3) OVER (PARTITION BY lang
                              ORDER BY avg_logp DESC, doc_id ASC) AS BIGINT) AS tercile
                     FROM g)
              SELECT doc_id, lang, avg_logp, tercile,
                     CASE WHEN tercile = 1 THEN 'head'
                          WHEN tercile = 2 THEN 'middle'
                          ELSE 'tail' END AS bucket
              FROM rk""")),

    // ---- t17: deterministic BPE token counts ---------------------------
    // Real subword tokenization replacing t03's regex estimate: a BPE
    // merge table trained on the corpus's OWN word frequencies
    // (Bpe.train — distributed count aggregate, bounded driver-side
    // training, byte-identical across runs), applied by the codegen'd
    // BpeTokenCountExpr at scan speed. Verification is split by what
    // each harness can check: the query EXPORTS the trained model as a
    // parquet table and the DuckDB oracle re-applies it from scratch
    // (recursive CTE: merge the first occurrence of the lowest-rank
    // pair until fixpoint — provably the textbook segmentation, see
    // TextHash.bpePieces) — so tokenization + counts are oracle-exact
    // against an independent implementation; TRAINING itself is pinned
    // in TextHashPropertySpec against a plain-Scala reference.
    ("t17_bpe_tokens",
      (s, d) => {
        import s.implicits._
        val merges = Bpe.mergeStrings(s, d)
        // Dynamic partition overwrite: this corpus's fingerprint
        // partition is replaced, other corpora's models are untouched.
        merges.zipWithIndex.map { case (m, i) =>
            val Array(l, r) = m.split(" ", 2); (i, l, r)
          }.toDF("rank", "l", "r")
          .withColumn("corpus_key", lit(Bpe.corpusKey(Tables.documents(s, d))))
          .coalesce(1).write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("corpus_key").parquet(Bpe.ModelExportPath)
        Tables.documents(s, d).select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0)))
            .cast("long").as("n_words"),
          org.apache.spark.sql.graft.TextHash
            .bpeTokenCountCol(col("text"), merges).as("bpe_tokens"))
      },
      Some(s"""WITH RECURSIVE ${Bpe.oracleTokenCte},
               nw AS (SELECT doc_id,
                             CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT)
                               AS n_words
                      FROM documents)
               SELECT b.doc_id, nw.n_words, b.n_tokens AS bpe_tokens
               FROM bpetok b JOIN nw USING (doc_id)""")),

    // ---- t18: learned quality filter (linear classifier inference) -----
    // The production successor to t02's hand-weighted heuristic: a
    // fastText-style linear classifier applied at scan speed. The model
    // is a WEIGHT VECTOR (here fixed illustrative weights standing in
    // for an offline-trained model — the inference shape is what's
    // real): features from the single-pass quality kernel, a map-side
    // dot product against the broadcast weights (a literal array — the
    // codegen form of a broadcast variable), keep iff logit > 0. ZERO
    // exchanges (PlanShapeSpec-gated): classifier inference adds no
    // shuffle at any corpus size. Oracle-exact without gridding: every
    // feature is a rational of integer counts (casts + one division,
    // same op order both engines), the weights are dyadic rationals
    // (exactly representable doubles), and the fold is the same
    // left-to-right sum both sides — all IEEE-exact cross-engine.
    ("t18_quality_classifier",
      (s, d) => classifierScores(s, d)
        .select(col("doc_id"), col("logit"), (col("logit") > 0).as("keep")),
      Some(s"""WITH $oracleLogitCte
               SELECT doc_id, logit, logit > 0 AS keep FROM sc""")),

    // ---- t19: NDCG ranking evaluation over the BM25 search ---------------
    // The eval rung of the search stack (index → score → MEASURE): graded
    // NDCG@20 of t13's ranking against term-coverage relevance (how many
    // of the query's 3 terms the doc contains — integer, exact). Gains
    // 2^rel−1 via CASE (no libm pow); the log2 discount is written
    // gain / ln(pos+1) * ln(2) in the SAME op order both engines, and the
    // cumulative DCG/IDCG land on the micro grid (ln is libm-owned —
    // per-term ulp drift ≤ 1e-15 vs 5e-7 grid slack). The unpartitioned
    // windows run over exactly the 20-row result set — bounded by k, not
    // the corpus (same argument as p02's bucket totals). NDCG itself is
    // one division of two gridded values.
    ("t19_ndcg_eval",
      (s, d) => {
        val wPos = Window.orderBy(col("score").desc, col("doc_id").asc)
        val wIdeal = Window.orderBy(col("rel").desc, col("doc_id").asc)
        val ln2 = log(lit(2.0))
        // localCheckpoint: `pos` (20 rows) fans out to the DCG and IDCG
        // branches — without the cut each branch re-plans the whole BM25
        // subtree (itself two corpus scans): 4 corpus scans where the
        // checkpoint needs 2 (the multi-consumer discipline of s08/p06).
        val pos = bm25Top20(s, d)
          .withColumn("rel",
            (col("tf_spark") > 0).cast("long") + (col("tf_join") > 0).cast("long")
              + (col("tf_window") > 0).cast("long"))
          .withColumn("gain",
            when(col("rel") === 3, 7.0).when(col("rel") === 2, 3.0).otherwise(1.0))
          .withColumn("pos", row_number().over(wPos).cast("long"))
          .withColumn("ipos", row_number().over(wIdeal).cast("long"))
          .localCheckpoint()
        val dcg = pos.withColumn("dcg_cum",
          micro(sum(col("gain") / log(col("pos") + 1) * ln2)
            .over(Window.orderBy(col("pos"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))))
        val ideal = pos.select(col("ipos"), col("gain"))
          .withColumn("idcg_cum",
            micro(sum(col("gain") / log(col("ipos") + 1) * ln2)
              .over(Window.orderBy(col("ipos"))
                .rowsBetween(Window.unboundedPreceding, Window.currentRow))))
          .select(col("ipos").as("pos"), col("idcg_cum"))
        dcg.join(ideal, "pos")
          .select(col("pos"), col("doc_id"), col("rel"),
            col("dcg_cum"), col("idcg_cum"),
            (col("dcg_cum") / col("idcg_cum")).as("ndcg"))
      },
      Some(s"""WITH $oracleBm25Cte,
              r AS (SELECT doc_id, score,
                      CAST(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END
                         + CASE WHEN tf_join > 0 THEN 1 ELSE 0 END
                         + CASE WHEN tf_window > 0 THEN 1 ELSE 0 END AS BIGINT) AS rel
                    FROM top20),
              g AS (SELECT doc_id, score, rel,
                      CASE WHEN rel = 3 THEN CAST(7 AS DOUBLE)
                           WHEN rel = 2 THEN CAST(3 AS DOUBLE)
                           ELSE CAST(1 AS DOUBLE) END AS gain
                    FROM r),
              p2 AS (SELECT *,
                      CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS pos,
                      CAST(row_number() OVER (ORDER BY rel DESC, doc_id ASC) AS BIGINT) AS ipos
                     FROM g),
              d2 AS (SELECT pos, doc_id, rel,
                      FLOOR(sum(gain / ln(pos + 1) * ln(CAST(2 AS DOUBLE)))
                        OVER (ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        * 1000000 + 0.5) / 1000000 AS dcg_cum
                     FROM p2),
              i2 AS (SELECT ipos AS pos,
                      FLOOR(sum(gain / ln(ipos + 1) * ln(CAST(2 AS DOUBLE)))
                        OVER (ORDER BY ipos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        * 1000000 + 0.5) / 1000000 AS idcg_cum
                     FROM p2)
              SELECT d2.pos, d2.doc_id, d2.rel, d2.dcg_cum, i2.idcg_cum,
                     d2.dcg_cum / i2.idcg_cum AS ndcg
              FROM d2 JOIN i2 ON d2.pos = i2.pos""")),

    // ---- t20: TextRank keyword extraction --------------------------------
    // TextRank (Mihalcea & Tarau 2004): PageRank over the word
    // co-occurrence graph — THE classic unsupervised keyword extractor,
    // and a composition proof: the edge table here is adjacent-word
    // bigram counts (t11's extraction), the iteration is g01's generic
    // weighted [[Graph.pageRankLoop]] verbatim, and the oracle splices
    // g01's generic CTE steps onto a word-graph base. Min-support 3 +
    // self-loop filter keep the graph at content-vocabulary size;
    // symmetric edges (co-occurrence is undirected) mean every node has
    // out-weight, so the dangling term is exactly 0.0 on both engines.
    ("t20_textrank",
      (s, d) => {
        val ws = Tables.documents(s, d).select(words(col("text")).as("ws"))
        val bi = ws.filter(size(col("ws")) >= 2)
          .select(explode(expr(
            "transform(sequence(0, size(ws) - 2), " +
              "i -> struct(element_at(ws, i + 1) AS w1, element_at(ws, i + 2) AS w2))")).as("p"))
          .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
          .filter(col("w1") =!= col("w2"))
          .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
        // Min-support on the SYMMETRIZED weight (the quantity the
        // algorithm ranks by) — thresholding directed counts first would
        // drop a 2+2 pair while keeping a 3+0 one. localCheckpoint: sym
        // fans out to both union branches AND the loop's nodes/edges
        // materializations — without the cut the corpus bigram
        // extraction re-executes per consumer.
        val sym = bi
          .select(least(col("w1"), col("w2")).as("u"),
            greatest(col("w1"), col("w2")).as("v"), col("c"))
          .groupBy(col("u"), col("v")).agg(sum(col("c")).as("w"))
          .filter(col("w") >= 3)
          .localCheckpoint()
        val edges = sym.select(col("u").as("src"), col("v").as("dst"), col("w"))
          .union(sym.select(col("v").as("src"), col("u").as("dst"), col("w")))
        val nodes = edges.select(col("src").as("id")).distinct()
        // Symmetric edges ⇒ every node has out-weight ⇒ dangling mass is
        // exactly 0.0 every iteration (the oracle's g-CTEs compute the
        // same empty-sum 0.0): the dangling=false path is bit-identical
        // and drops an anti-join + global agg + crossJoin per iteration;
        // cutEvery=5 cuts the ranks twice instead of ten times (safe:
        // one ranks reference per iteration on this path, see
        // [[Graph.unroll]] — measured best of the 2/5/10 sweep, commit
        // 4a6ac04).
        Graph.pageRankLoop(nodes, edges, TrIters, dangling = false, cutEvery = 5)
          .orderBy(col("r").desc, col("id").asc).limit(30)
          .select(col("id").as("word"), col("r").as("textrank"))
      },
      Some(s"""WITH w AS MATERIALIZED (SELECT string_split(text, ' ') AS ws FROM documents),
              bi AS MATERIALIZED (
                SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM (
                  SELECT ws[i] AS w1, ws[i+1] AS w2
                  FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM w
                        WHERE len(ws) >= 2))
                WHERE w1 <> w2
                GROUP BY 1, 2),
              sym AS MATERIALIZED (
                SELECT LEAST(w1, w2) AS u, GREATEST(w1, w2) AS v,
                       CAST(sum(c) AS BIGINT) AS w
                FROM bi GROUP BY 1, 2 HAVING sum(c) >= 3),
              edges AS MATERIALIZED (
                SELECT u AS src, v AS dst, w FROM sym
                UNION ALL
                SELECT v AS src, u AS dst, w FROM sym),
              nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
              deg AS MATERIALIZED (
                SELECT src, CAST(sum(w) AS BIGINT) AS wdeg FROM edges GROUP BY 1),
              nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
              r0 AS MATERIALIZED (SELECT id, 1.0 / nn.n AS r FROM nodes, nn),
              ${Graph.pageRankOracleSteps(TrIters)}
              SELECT id AS word, r AS textrank FROM r$TrIters
              ORDER BY r DESC, id ASC LIMIT 30""")),

    // ---- t21: readability signals (syllable-complexity profile) ----------
    // The Flesch/LIX feature family as corpus signals: vowel-GROUP count
    // is the classic deterministic syllable proxy ('[aeiouy]+' — spaces
    // break groups, so whole-text regexp_count equals the per-word sum).
    // The synthetic corpus has no sentence delimiters, so the
    // sentence-length composites (FRE/FK grade) are degenerate here; the
    // operator reports the per-lang SIGNALS those composites are built
    // from — avg syllables/word, share of 3+-syllable words, share of
    // 7+-char words, avg word length — each a single division over
    // integer sums (exact, merge-order-free), gridded once. All per-doc
    // work is map-side codegen (regexp + HOF over the split array); ONE
    // lang-keyed aggregate is the only exchange.
    ("t21_readability",
      (s, d) => {
        val ws = words(col("text"))
        Tables.documents(s, d)
          .select(col("lang"),
            size(ws).cast("long").as("n_words"),
            regexp_count(col("text"), lit("[aeiouy]+")).cast("long").as("n_syll"),
            size(filter(transform(ws, w => regexp_count(w, lit("[aeiouy]+"))),
              c => c >= 3)).cast("long").as("n_complex"),
            size(filter(ws, w => length(w) >= 7)).cast("long").as("n_long"),
            (length(col("text")) - size(ws) + 1).cast("long").as("n_letters"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            micro(sum(col("n_syll")).cast("double") / sum(col("n_words"))).as("syll_per_word"),
            micro(sum(col("n_complex")).cast("double") / sum(col("n_words"))).as("pct_complex"),
            micro(sum(col("n_long")).cast("double") / sum(col("n_words"))).as("pct_long"),
            micro(sum(col("n_letters")).cast("double") / sum(col("n_words"))).as("avg_word_len"))
      },
      Some("""WITH t AS (
                SELECT lang,
                       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
                       CAST(len(regexp_extract_all(text, '[aeiouy]+')) AS BIGINT) AS n_syll,
                       CAST(len(list_filter(string_split(text, ' '),
                              w -> len(regexp_extract_all(w, '[aeiouy]+')) >= 3))
                            AS BIGINT) AS n_complex,
                       CAST(len(list_filter(string_split(text, ' '),
                              w -> length(w) >= 7)) AS BIGINT) AS n_long,
                       CAST(length(text) - len(string_split(text, ' ')) + 1
                            AS BIGINT) AS n_letters
                FROM documents)
              SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                     FLOOR(CAST(sum(n_syll) AS DOUBLE) / sum(n_words)
                           * 1000000 + 0.5) / 1000000 AS syll_per_word,
                     FLOOR(CAST(sum(n_complex) AS DOUBLE) / sum(n_words)
                           * 1000000 + 0.5) / 1000000 AS pct_complex,
                     FLOOR(CAST(sum(n_long) AS DOUBLE) / sum(n_words)
                           * 1000000 + 0.5) / 1000000 AS pct_long,
                     FLOOR(CAST(sum(n_letters) AS DOUBLE) / sum(n_words)
                           * 1000000 + 0.5) / 1000000 AS avg_word_len
              FROM t GROUP BY lang""")),

    // ---- t22: lexical diversity (TTR + hapax profile per doc) ------------
    // Repetitive machine-generated text shows up as LOW type-token ratio
    // and LOW hapax share long before a dedup pass finds its twin — the
    // Gopher/CCNet repetition gates' cousin keyed on vocabulary richness.
    // Per-doc token counting goes through ONE explicit repartition(doc_id)
    // that then serves BOTH aggregates — (doc_id, tok) counts and the
    // per-doc rollup — with zero further exchanges (the q60/q62
    // discipline; a groupBy(doc_id, tok) without it would shuffle on the
    // pair key and AGAIN on doc_id). Ratios are one integer-sum division
    // each, gridded; no doubles are ever summed.
    ("t22_lexical_diversity",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), col("source"), explode(words(col("text"))).as("tok"))
        .repartition(col("doc_id"))
        .groupBy(col("doc_id"), col("source"), col("tok"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("doc_id"), col("source"))
        .agg(sum(col("cnt")).as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("n_hapax"))
        .select(col("doc_id"), col("source"), col("n_tokens"), col("n_distinct"),
          col("n_hapax"),
          micro(col("n_distinct").cast("double") / col("n_tokens")).as("ttr"),
          micro(col("n_hapax").cast("double") / col("n_tokens")).as("hapax_ratio")),
      Some("""WITH w AS (
                SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
                FROM documents),
              c AS (
                SELECT doc_id, source, tok, count(*) AS cnt
                FROM w GROUP BY 1, 2, 3)
              SELECT doc_id, source,
                     CAST(sum(cnt) AS BIGINT) AS n_tokens,
                     CAST(count(*) AS BIGINT) AS n_distinct,
                     CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
                     FLOOR(CAST(count(*) AS DOUBLE) / sum(cnt)
                           * 1000000 + 0.5) / 1000000 AS ttr,
                     FLOOR(CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                           / sum(cnt) * 1000000 + 0.5) / 1000000 AS hapax_ratio
              FROM c GROUP BY doc_id, source""")),

    // ---- t23: per-source distinctive terms (smoothed keyness) ------------
    // WHICH words make src7 different from the rest of the corpus — the
    // source-profiling complement to t07's per-DOC tf-idf: contamination
    // by a boilerplate-heavy source, a mislabeled crawl, or a synthetic
    // slice shows up as its top keyness terms before any manual reading.
    // Score is the add-one-smoothed odds ratio of "word in source" vs
    // "word in rest of corpus": ((c+1)·(T−S+V)) / ((S+V)·(g−c+1)) — the
    // log-odds ranking without the log (log is monotone; ln() is a
    // per-libm last-ulp hazard). The sums stay exact longs; the two
    // PRODUCTS are computed in binary64 — at corpus scale (T ~ 1e13
    // tokens) a long×long wraps, and IEEE multiply rounds identically
    // in both engines, so the 1e-6-gridded score stays engine-portable
    // where an overflowing long form would diverge. Shape at scale:
    // corpus work collapses to the (source, word) aggregate first;
    // global per-word counts ride a word-keyed window on that
    // VOCABULARY-sized frame (the t07 discipline — nothing
    // vocabulary-sized is broadcast or joined), per-source totals and
    // the top-5 rank ride one source-keyed exchange; T and V are a
    // 1-row broadcast. The (source, word) frame feeds three consumers
    // (totals, windows), so it is localCheckpoint'd once — the
    // p06/d13 shared-subtree cut; without it each consumer re-plans
    // the corpus explode. Post-checkpoint exchange budget: 3 (word
    // window, source window — the rank reuses its clustering — and
    // the countDistinct partial inside the 1-row totals broadcast),
    // all vocabulary-sized, plan-gated.
    ("t23_keyness",
      (s, d) => {
        val wWord = Window.partitionBy(col("word"))
        val wSrc = Window.partitionBy(col("source"))
        val wRank = Window.partitionBy(col("source"))
          .orderBy(col("score").desc, col("word").asc)
        val sw = Tables.documents(s, d)
          .select(col("source"), explode(words(col("text"))).as("word"))
          .groupBy(col("source"), col("word"))
          .agg(count(lit(1)).as("c"))
          .localCheckpoint()
        val totals = sw.agg(sum(col("c")).as("t"),
          countDistinct(col("word")).as("v"))
        sw.withColumn("g", sum(col("c")).over(wWord))
          .crossJoin(broadcast(totals))
          .withColumn("s_tot", sum(col("c")).over(wSrc))
          .withColumn("score",
            micro((col("c") + 1).cast("double")
              * (col("t") - col("s_tot") + col("v")).cast("double")
              / ((col("s_tot") + col("v")).cast("double")
                * (col("g") - col("c") + 1).cast("double"))))
          .withColumn("rn", row_number().over(wRank))
          .filter(col("rn") <= 5)
          .select(col("source"), col("word"), col("c").as("n"), col("score"))
      },
      Some("""WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS word
                         FROM documents),
              sw AS (SELECT source, word, CAST(count(*) AS BIGINT) AS c
                     FROM w GROUP BY 1, 2),
              tot AS (SELECT CAST(sum(c) AS BIGINT) AS t,
                             CAST(count(DISTINCT word) AS BIGINT) AS v FROM sw),
              x AS (SELECT source, word, c,
                      CAST(sum(c) OVER (PARTITION BY word) AS BIGINT) AS g,
                      CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS s_tot
                    FROM sw),
              sc AS (SELECT source, word, c,
                      FLOOR(CAST(c + 1 AS DOUBLE) * CAST(t - s_tot + v AS DOUBLE)
                            / (CAST(s_tot + v AS DOUBLE) * CAST(g - c + 1 AS DOUBLE))
                            * 1000000 + 0.5)
                        / 1000000 AS score
                     FROM x, tot),
              r AS (SELECT *, row_number() OVER (PARTITION BY source
                      ORDER BY score DESC, word ASC) AS rn FROM sc)
              SELECT source, word, c AS n, score FROM r WHERE rn <= 5""")),

    // ---- t24: term burstiness (dispersion profile) -----------------------
    // HOW a frequent word distributes across documents — Church & Gale's
    // burstiness: content words clump ("once a doc mentions it, it
    // mentions it again"), function words and injected boilerplate spread
    // uniformly. The variance-to-mean ratio over ALL docs (zeros
    // included) needs only three integer sums — T = Σc, S2 = Σc², df —
    // because VMR = (S2·N − T²)/(T·N). The sums are exact longs; the
    // products are computed in binary64 (T² for a 1e10-occurrence
    // stopword wraps a long; IEEE multiply/subtract round identically
    // in both engines, so the gridded value stays portable), ONE
    // gridded division (the [[graft-float-discipline]] rational form;
    // no per-doc float variance is ever summed). mean-per-containing-doc
    // (T/df) is the companion clumpiness signal. Shape at scale: one
    // (word, doc) aggregate, then word-keyed stats with map-side
    // combine, corpus size a 1-row broadcast, top-20 via TakeOrdered —
    // the t06 discipline with one more moment.
    ("t24_burstiness",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val nd = docs.agg(count(lit(1)).as("nd"))
        docs.select(col("doc_id"), explode(words(col("text"))).as("word"))
          .groupBy(col("word"), col("doc_id"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("word"))
          .agg(sum(col("c")).as("t"),
            sum(col("c") * col("c")).as("s2"),
            count(lit(1)).as("df"))
          .crossJoin(broadcast(nd))
          .select(col("word"), col("t").as("freq"), col("df"),
            micro(col("t").cast("double") / col("df")).as("mean_per_doc"),
            micro((col("s2").cast("double") * col("nd").cast("double")
              - col("t").cast("double") * col("t").cast("double"))
              / (col("t").cast("double") * col("nd").cast("double"))).as("vmr"))
          .orderBy(col("freq").desc, col("word").asc)
          .limit(20)
      },
      Some("""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                         FROM documents),
              wd AS (SELECT word, doc_id, CAST(count(*) AS BIGINT) AS c
                     FROM w GROUP BY 1, 2),
              n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
              ws AS (SELECT word, CAST(sum(c) AS BIGINT) AS t,
                            CAST(sum(c * c) AS BIGINT) AS s2,
                            CAST(count(*) AS BIGINT) AS df
                     FROM wd GROUP BY 1)
              SELECT word, t AS freq, df,
                     FLOOR(CAST(t AS DOUBLE) / df * 1000000 + 0.5)
                       / 1000000 AS mean_per_doc,
                     FLOOR((CAST(s2 AS DOUBLE) * CAST(nd AS DOUBLE)
                            - CAST(t AS DOUBLE) * CAST(t AS DOUBLE))
                           / (CAST(t AS DOUBLE) * CAST(nd AS DOUBLE))
                           * 1000000 + 0.5) / 1000000 AS vmr
              FROM ws, n ORDER BY freq DESC, word ASC LIMIT 20""")),

    // ---- t25: vocabulary growth curve (Heaps' law profile) ---------------
    // HOW FAST the vocabulary grows as the corpus is consumed — Heaps'
    // law (V ∝ Tᵝ) is the sizing input for tokenizer vocab budgets and
    // the standard synthetic-text tell (generated corpora saturate early;
    // organic text keeps minting types). Ten ingest checkpoints over
    // doc_id order; a word counts as NEW in the checkpoint bucket of its
    // FIRST document. No global sort anywhere: the bucket is pure integer
    // arithmetic on (doc_id − lo) against a 1-row min/max broadcast, so
    // bucketing is map-side; first occurrence is a word-keyed min
    // aggregate (vocabulary-sized, on its own exchange — the t06
    // discipline, nothing vocabulary-sized broadcast or collected); the
    // cumulative sums run on the TEN-row bucket frame. Float = one
    // gridded division (type-token ratio of two exact longs).
    ("t25_heaps",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val bounds = docs.agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
        def bucketOf(c: String) = expr(s"(($c - lo) * 10) div (hi - lo + 1)")
        val tb = docs
          .select(col("doc_id"), size(words(col("text"))).cast("long").as("ntok"))
          .crossJoin(broadcast(bounds))
          .groupBy(bucketOf("doc_id").as("bucket"))
          .agg(sum(col("ntok")).as("n_tokens"))
        val vb = docs
          .select(col("doc_id"), explode(words(col("text"))).as("word"))
          .groupBy(col("word")).agg(min(col("doc_id")).as("first_doc"))
          .crossJoin(broadcast(bounds))
          .groupBy(bucketOf("first_doc").as("bucket"))
          .agg(count(lit(1)).as("new_words"))
        val wCum = Window.orderBy(col("bucket").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        tb.join(vb, Seq("bucket"), "left")
          .withColumn("new_words", coalesce(col("new_words"), lit(0L)))
          .withColumn("cum_tokens", sum(col("n_tokens")).over(wCum))
          .withColumn("cum_vocab", sum(col("new_words")).over(wCum))
          .select(col("bucket"), col("n_tokens"), col("new_words"),
            col("cum_tokens"), col("cum_vocab"),
            micro(col("cum_vocab").cast("double") / col("cum_tokens")).as("ttr"))
      },
      Some("""WITH b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi
                         FROM documents),
              tb AS (SELECT ((doc_id - lo) * 10) // (hi - lo + 1) AS bucket,
                            CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                              AS n_tokens
                     FROM documents, b GROUP BY 1),
              w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                    FROM documents),
              fd AS (SELECT word, min(doc_id) AS first_doc FROM w GROUP BY 1),
              vb AS (SELECT ((first_doc - lo) * 10) // (hi - lo + 1) AS bucket,
                            CAST(count(*) AS BIGINT) AS new_words
                     FROM fd, b GROUP BY 1),
              j AS (SELECT tb.bucket, tb.n_tokens,
                           coalesce(vb.new_words, CAST(0 AS BIGINT)) AS new_words
                    FROM tb LEFT JOIN vb ON tb.bucket = vb.bucket),
              c AS (SELECT bucket, n_tokens, new_words,
                      CAST(sum(n_tokens) OVER (ORDER BY bucket ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cum_tokens,
                      CAST(sum(new_words) OVER (ORDER BY bucket ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cum_vocab
                    FROM j)
              SELECT bucket, n_tokens, new_words, cum_tokens, cum_vocab,
                     FLOOR(CAST(cum_vocab AS DOUBLE) / cum_tokens
                           * 1000000 + 0.5) / 1000000 AS ttr
              FROM c""")),

    // ---- t26: source vocabulary overlap matrix ---------------------------
    // HOW MUCH two crawl sources share language — the cross-source
    // contamination diagnostic (a mirror site or re-crawled slice shows
    // as near-1.0 overlap; a synthetic source shows as an outlier
    // against every organic one). Each source is profiled by its top-100
    // terms (t14's deterministic (count desc, word asc) ranking), then
    // the |sources|² pair matrix is Jaccard over those PROFILES — never
    // over the corpora. Shape at scale: the (source, word) aggregate
    // collapses the corpus first (map-side combine); the top-100 rank
    // rides a source-keyed window on the vocabulary-sized frame; the
    // pair join carries ≤ 100·|sources| profile rows — dimension-scale
    // whatever the corpus. Jaccard = one gridded division of exact
    // longs (n / (|A| + |B| − n)).
    ("t26_source_overlap",
      (s, d) => {
        val wRank = Window.partitionBy(col("source"))
          .orderBy(col("c").desc, col("word").asc)
        val prof = Tables.documents(s, d)
          .select(col("source"), explode(words(col("text"))).as("word"))
          .groupBy(col("source"), col("word")).agg(count(lit(1)).as("c"))
          .withColumn("rnk", row_number().over(wRank))
          .filter(col("rnk") <= 100)
          .select(col("source"), col("word"))
          .localCheckpoint()
        val sizes = prof.groupBy(col("source")).agg(count(lit(1)).as("sz"))
        val common = prof.select(col("source").as("source_a"), col("word"))
          .join(prof.select(col("source").as("source_b"), col("word")), "word")
          .filter(col("source_a") < col("source_b"))
          .groupBy(col("source_a"), col("source_b"))
          .agg(count(lit(1)).as("n_common"))
        common
          .join(broadcast(sizes.select(col("source").as("source_a"), col("sz").as("sa"))), "source_a")
          .join(broadcast(sizes.select(col("source").as("source_b"), col("sz").as("sb"))), "source_b")
          .select(col("source_a"), col("source_b"), col("n_common"),
            micro(col("n_common").cast("double")
              / (col("sa") + col("sb") - col("n_common"))).as("jaccard"))
      },
      Some("""WITH sw AS (SELECT source, word, CAST(count(*) AS BIGINT) AS c
                     FROM (SELECT source, unnest(string_split(text, ' ')) AS word
                           FROM documents)
                     GROUP BY 1, 2),
              prof AS (SELECT source, word FROM
                         (SELECT source, word,
                                 row_number() OVER (PARTITION BY source
                                   ORDER BY c DESC, word ASC) AS rnk
                          FROM sw)
                       WHERE rnk <= 100),
              sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS sz
                        FROM prof GROUP BY 1),
              com AS (SELECT a.source AS source_a, b.source AS source_b,
                             CAST(count(*) AS BIGINT) AS n_common
                      FROM prof a JOIN prof b ON a.word = b.word
                                             AND a.source < b.source
                      GROUP BY 1, 2)
              SELECT c.source_a, c.source_b, c.n_common,
                     FLOOR(CAST(c.n_common AS DOUBLE)
                           / (sa.sz + sb.sz - c.n_common)
                           * 1000000 + 0.5) / 1000000 AS jaccard
              FROM com c
              JOIN sizes sa ON c.source_a = sa.source
              JOIN sizes sb ON c.source_b = sb.source""")),

    // ---- t27: character-entropy junk filter ------------------------------
    // WHAT the word-level signals can't see: base64 blobs, hex dumps,
    // minified/compressed payloads and repeated-char padding all sit far
    // from natural text's ~4 bits/char, but tokenize into "words" that
    // fool t02/t22. Shannon entropy over code points, computed by ONE
    // codegen'd kernel pass per row ([[graft-codegen-kernels]]:
    // CharEntropyExpr sums −p·log₂p in deterministic ascending
    // code-point order — no char explode, which would shuffle
    // corpus×chars rows; zero exchanges before the final census).
    // Output is the per-(source, band) census the gate operator needs:
    // low < 3 bits (encoded/padded junk), high > 4.7 (noise), else
    // normal.
    ("t27_char_entropy",
      (s, d) => {
        val th = org.apache.spark.sql.graft.TextHash
        Tables.documents(s, d)
          .select(col("source"),
            micro(th.charEntropyCol(col("text"))).as("ent"))
          .withColumn("band",
            when(col("ent") < 3.0, "low")
              .when(col("ent") > 4.7, "high")
              .otherwise("normal"))
          .groupBy(col("source"), col("band"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("ent")).as("min_entropy"),
            max(col("ent")).as("max_entropy"))
      },
      Some("""WITH ch AS (SELECT doc_id, source,
                                 unnest(string_split(text, '')) AS c
                          FROM documents),
              cc AS (SELECT doc_id, source, c, CAST(count(*) AS BIGINT) AS n
                     FROM ch GROUP BY 1, 2, 3),
              tot AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS t
                      FROM cc GROUP BY 1),
              ent AS (SELECT cc.source,
                        FLOOR(sum(-(CAST(cc.n AS DOUBLE) / tot.t)
                                  * log2(CAST(cc.n AS DOUBLE) / tot.t))
                              * 1000000 + 0.5) / 1000000 AS ent
                      FROM cc JOIN tot ON cc.doc_id = tot.doc_id
                      GROUP BY cc.doc_id, cc.source),
              banded AS (SELECT source, ent,
                           CASE WHEN ent < 3.0 THEN 'low'
                                WHEN ent > 4.7 THEN 'high'
                                ELSE 'normal' END AS band
                         FROM ent)
              SELECT source, band, CAST(count(*) AS BIGINT) AS n_docs,
                     min(ent) AS min_entropy, max(ent) AS max_entropy
              FROM banded GROUP BY 1, 2""")),

    // ---- t28: sentence segmentation stats (structural quality) ---------
    // The Gopher/C4 rule family keys on sentence structure ("docs with
    // fewer than 3 sentences", "mean words per sentence outside
    // [3, 90]") — length stats (t09) can't see it. Sentences are counted
    // as runs of terminator punctuation ([.!?]+ — the run form so "?!"
    // and "..." count once), a deliberately engine-portable definition:
    // regexp_count on the codegen'd Spark side, regexp_extract_all
    // length in the oracle, same greedy-run semantics in both regex
    // engines. Words-per-sentence guards the zero-terminator case with
    // greatest(runs, 1) rather than dropping the doc — headline-only
    // docs are exactly what the downstream filter wants to see. Shape
    // at scale: per-doc work is one codegen'd map pass (regex + split
    // count), then ONE source-keyed aggregate — the t09 shape; nothing
    // corpus-sized shuffles but the ~10-row source frame.
    ("t28_sentences",
      (s, d) => {
        // Per-doc words-per-sentence is floored onto the 1e-6 integer
        // grid BEFORE aggregation (the v17 discipline): the per-row
        // division is a deterministic double, but a SUM of raw doubles
        // is merge-order-dependent — integer sums are not.
        val docs = Tables.documents(s, d)
          .select(col("source"),
            regexp_count(col("text"), lit("[.!?]+")).cast("long").as("n_sent"),
            size(words(col("text"))).cast("long").as("n_words"))
          .withColumn("wps_q",
            floor(col("n_words").cast("double") / greatest(col("n_sent"), lit(1L))
              * 1000000).cast("long"))
        docs.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_sent")).as("total_sentences"),
            micro(avg(col("n_sent"))).as("avg_sentences"),
            micro(sum(col("wps_q")).cast("double") / 1000000 / count(lit(1)))
              .as("avg_words_per_sentence"),
            count(when(col("n_sent") < 3, 1)).as("short_docs"))
      },
      Some("""WITH t AS (SELECT source,
                     CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT) AS n_sent,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
              FROM documents),
              p AS (SELECT source, n_sent,
                      CAST(FLOOR(CAST(n_words AS DOUBLE) / greatest(n_sent, 1)
                                 * 1000000) AS BIGINT) AS wps_q
                    FROM t)
              SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                     FLOOR(avg(n_sent) * 1000000 + 0.5) / 1000000 AS avg_sentences,
                     FLOOR(CAST(sum(wps_q) AS DOUBLE) / 1000000 / count(*)
                           * 1000000 + 0.5) / 1000000 AS avg_words_per_sentence,
                     CAST(count(*) FILTER (WHERE n_sent < 3) AS BIGINT) AS short_docs,
                     CAST(sum(n_sent) AS BIGINT) AS total_sentences
              FROM p GROUP BY 1""")),

    // ---- t29: collocation extraction by Dunning log-likelihood (G²) ----
    // t11's PMI over-ranks rare pairs (two hapaxes co-occurring once get
    // maximal PMI); the corpus-linguistics standard is Dunning's (1993)
    // log-likelihood ratio, which weighs evidence by frequency: G² =
    // 2·Σ O·ln(O/E) over the bigram's 2×2 contingency table. Counts are
    // the SAME integer streams as t11 (bigram counts + unigram counts +
    // 1-row total); each cell's term is written as
    // O·((ln O + ln n) − ln r − ln c) — no O·n integer product, so
    // nothing overflows at any corpus size, and the op order is
    // IDENTICAL in the oracle so the doubles agree. Zero cells
    // contribute zero (the 0·ln 0 limit), pinned by CASE/when on both
    // sides. Top-50 ranked on the raw double with the bigram tiebreak
    // (the t11 discipline). Shape at scale = t11's: bigram/unigram
    // aggregates on their own exchanges, vocabulary-sized frames joined
    // by key (never broadcast, never collected), TakeOrdered top-k.
    ("t29_collocations",
      (s, d) => {
        val ws = Tables.documents(s, d).select(words(col("text")).as("ws"))
        val uni = ws.select(explode(col("ws")).as("word"))
          .groupBy(col("word")).agg(count(lit(1)).as("c"))
        val tot = uni.agg(sum(col("c")).as("n"))
        val bi = ws.filter(size(col("ws")) >= 2)
          .select(explode(expr(
            "transform(sequence(0, size(ws) - 2), " +
              "i -> concat(element_at(ws, i + 1), ' ', element_at(ws, i + 2)))")).as("bigram"))
          .groupBy(col("bigram")).agg(count(lit(1)).as("c_ab"))
          .filter(col("c_ab") >= 5)
        // Guard EVERY ln argument, not just O: a degenerate margin
        // (n = c1 or n = c2 — the whole corpus is one word) makes
        // r or c zero with O > 0; Spark's log() would NULL the row
        // while DuckDB's ln() ABORTS the query — pin both engines to
        // the same 0 contribution instead.
        def term(o: Column, r: Column, c: Column, n: Column): Column =
          when(o > 0 && r > 0 && c > 0, o.cast("double")
            * ((log(o.cast("double")) + log(n.cast("double")))
              - log(r.cast("double")) - log(c.cast("double"))))
            .otherwise(lit(0.0))
        val scored = bi
          .withColumn("w1", element_at(split(col("bigram"), " "), 1))
          .withColumn("w2", element_at(split(col("bigram"), " "), 2))
          .join(uni.select(col("word").as("w1"), col("c").as("c1")), "w1")
          .join(uni.select(col("word").as("w2"), col("c").as("c2")), "w2")
          .crossJoin(broadcast(tot))
          .withColumn("o11", col("c_ab"))
          .withColumn("o12", col("c1") - col("c_ab"))
          .withColumn("o21", col("c2") - col("c_ab"))
          .withColumn("o22", col("n") - col("c1") - col("c2") + col("c_ab"))
          .withColumn("g2_r", lit(2.0) * (
            term(col("o11"), col("c1"), col("c2"), col("n"))
              + term(col("o12"), col("c1"), col("n") - col("c2"), col("n"))
              + term(col("o21"), col("n") - col("c1"), col("c2"), col("n"))
              + term(col("o22"), col("n") - col("c1"), col("n") - col("c2"), col("n"))))
        // Rank on the COARSE-gridded score (1e-4), not the raw double:
        // ln is libm-dependent (Java vs DuckDB can differ in the last
        // ulp), so raw-double ordering could pick different rank-50
        // rows per engine — the t11 risk its rational form avoids. The
        // grid absorbs ~1e-9 absolute ln noise with 1e-4 of headroom;
        // the bigram tiebreak then makes the cutoff deterministic.
        scored
          .withColumn("g2q", floor(col("g2_r") * 10000 + 0.5).cast("long"))
          .orderBy(col("g2q").desc, col("bigram").asc).limit(50)
          .select(col("bigram"), col("c_ab"), col("c1"), col("c2"),
            (col("g2q").cast("double") / 10000).as("g2"))
      },
      Some("""WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
              uni AS (SELECT word, CAST(count(*) AS BIGINT) AS c
                      FROM (SELECT unnest(ws) AS word FROM w) GROUP BY word),
              tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
              bi AS (SELECT bg, CAST(count(*) AS BIGINT) AS c_ab
                     FROM (SELECT ws[i] || ' ' || ws[i+1] AS bg
                           FROM (SELECT ws, unnest(range(1, len(ws))) AS i
                                 FROM w WHERE len(ws) >= 2))
                     GROUP BY bg HAVING count(*) >= 5),
              cells AS (SELECT bg, c_ab, ua.c AS c1, ub.c AS c2, tot.n AS n,
                          c_ab AS o11, ua.c - c_ab AS o12, ub.c - c_ab AS o21,
                          tot.n - ua.c - ub.c + c_ab AS o22
                        FROM bi
                        JOIN uni ua ON ua.word = string_split(bg, ' ')[1]
                        JOIN uni ub ON ub.word = string_split(bg, ' ')[2]
                        CROSS JOIN tot),
              s AS (SELECT bg, c_ab, c1, c2,
                      2.0 * (
                        (CASE WHEN o11 > 0 AND c1 > 0 AND c2 > 0
                          THEN CAST(o11 AS DOUBLE)
                          * ((ln(CAST(o11 AS DOUBLE)) + ln(CAST(n AS DOUBLE)))
                             - ln(CAST(c1 AS DOUBLE)) - ln(CAST(c2 AS DOUBLE)))
                          ELSE 0 END)
                        + (CASE WHEN o12 > 0 AND c1 > 0 AND n - c2 > 0
                          THEN CAST(o12 AS DOUBLE)
                          * ((ln(CAST(o12 AS DOUBLE)) + ln(CAST(n AS DOUBLE)))
                             - ln(CAST(c1 AS DOUBLE)) - ln(CAST(n - c2 AS DOUBLE)))
                          ELSE 0 END)
                        + (CASE WHEN o21 > 0 AND n - c1 > 0 AND c2 > 0
                          THEN CAST(o21 AS DOUBLE)
                          * ((ln(CAST(o21 AS DOUBLE)) + ln(CAST(n AS DOUBLE)))
                             - ln(CAST(n - c1 AS DOUBLE)) - ln(CAST(c2 AS DOUBLE)))
                          ELSE 0 END)
                        + (CASE WHEN o22 > 0 AND n - c1 > 0 AND n - c2 > 0
                          THEN CAST(o22 AS DOUBLE)
                          * ((ln(CAST(o22 AS DOUBLE)) + ln(CAST(n AS DOUBLE)))
                             - ln(CAST(n - c1 AS DOUBLE)) - ln(CAST(n - c2 AS DOUBLE)))
                          ELSE 0 END)) AS g2_r
                    FROM cells),
              sq AS (SELECT bg, c_ab, c1, c2,
                       CAST(FLOOR(g2_r * 10000 + 0.5) AS BIGINT) AS g2q
                     FROM s)
              SELECT bg AS bigram, c_ab, c1, c2,
                     CAST(g2q AS DOUBLE) / 10000 AS g2
              FROM sq ORDER BY g2q DESC, bg ASC LIMIT 50""")),

    // ---- t30: keyword-in-context concordance (KWIC) ---------------------
    // The corpus-inspection tool behind every "show me how this term is
    // used" request — and the evidence view for t13's search hits: each
    // occurrence of the query term with ±2 words of context. The scale
    // discipline is WHERE the explode happens: match positions are
    // computed map-side with array HOFs (filter over sequence — one
    // codegen'd pass), and only the MATCHES explode — the corpus
    // inflates by term frequency (Σtf ≈ df·avg_tf), never by token
    // count. Context slicing is more map-side array work; the operator
    // has zero exchanges end to end (output rides the scan partitions).
    ("t30_kwic",
      (s, d) => {
        val ws = words(col("text"))
        Tables.documents(s, d)
          .select(col("doc_id"), ws.as("ws"))
          .select(col("doc_id"), col("ws"),
            explode(filter(sequence(lit(1), size(col("ws"))),
              i => element_at(col("ws"), i) === lit("spark"))).as("pos"))
          .select(col("doc_id"), col("pos").cast("long").as("pos"),
            array_join(slice(col("ws"),
              greatest(lit(1), col("pos") - 2),
              least(size(col("ws")), col("pos") + 2)
                - greatest(lit(1), col("pos") - 2) + 1), " ").as("context"))
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                         FROM documents),
              m AS (SELECT doc_id, ws,
                      unnest(list_filter(range(1, len(ws) + 1),
                        i -> ws[i] = 'spark')) AS pos
                    FROM w)
              SELECT doc_id, CAST(pos AS BIGINT) AS pos,
                     array_to_string(
                       ws[greatest(1, pos - 2):least(len(ws), pos + 2)], ' ')
                       AS context
              FROM m""")),

    // ---- t31: language-ID confusion matrix (the t01 quality audit) ------
    // Before anyone trusts t01's labels to gate a multilingual mixture
    // (p14), they ask for the confusion matrix against the declared
    // `lang` column: per (declared, predicted) cell, the count and its
    // share of the declared language. Rides the SAME langScored frame
    // t01 registers (one definition — the audit can't drift from the
    // operator it audits); the matrix is one lang-keyed join + one
    // aggregate, and the per-lang share is a count window over the
    // ≤ |langs|² matrix frame, not the corpus.
    ("t31_lang_confusion",
      (s, d) => {
        val m = langScored(s, d).select(col("doc_id"), col("pred_lang"))
          .join(Tables.documents(s, d).select(col("doc_id"), col("lang")), "doc_id")
          .groupBy(col("lang"), col("pred_lang"))
          .agg(count(lit(1)).as("n"))
        val wLang = Window.partitionBy(col("lang"))
        m.withColumn("n_lang", sum(col("n")).over(wLang))
          .select(col("lang"), col("pred_lang"), col("n"),
            (floor(col("n").cast("double") / col("n_lang") * 1000000 + 0.5)
              / 1000000).as("frac_of_lang"))
      },
      Some(s"""WITH $oracleLangPredCte,
               m AS (SELECT d.lang, p.pred_lang, CAST(count(*) AS BIGINT) AS n
                     FROM pred p JOIN documents d USING (doc_id)
                     GROUP BY 1, 2)
               SELECT lang, pred_lang, n,
                      FLOOR(CAST(n AS DOUBLE)
                            / sum(n) OVER (PARTITION BY lang)
                            * 1000000 + 0.5) / 1000000 AS frac_of_lang
               FROM m""")),

    // ---- t32: vocabulary coverage curve ----------------------------------
    // The tokenizer-sizing question t06 (vocab) and t14 (Zipf fit) don't
    // answer directly: how much of the token stream does a top-K
    // vocabulary COVER? Rank types by frequency (count desc, word asc —
    // total order) and emit each rank's cumulative token share; the rank
    // where pct_micro crosses 950000 is the "95% vocab size" a BPE/word
    // tokenizer budget reads off. Shape at scale: one corpus-collapsing
    // word count (map-side combined), then rank + running sum as windows
    // over the VOCABULARY-sized frame on its own exchange — the t07/t14
    // count-window discipline, nothing corpus-sized past the first
    // aggregate. All-integer outputs (shares on the fixed micro grid).
    ("t32_vocab_coverage",
      (s, d) => {
        val counts = Tables.documents(s, d)
          .select(explode(words(col("text"))).as("word"))
          .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
        val wAll = Window.orderBy(col("cnt").desc, col("word").asc)
        val wCum = wAll.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        counts
          .withColumn("rank", row_number().over(wAll).cast("long"))
          .withColumn("cum_cnt", sum(col("cnt")).over(wCum))
          .withColumn("total", sum(col("cnt")).over(
            Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
          .select(col("rank"), col("word"), col("cnt"), col("cum_cnt"),
            floor(col("cum_cnt").cast("double") / col("total") * 1000000)
              .cast("long").as("pct_micro"))
      },
      Some("""WITH counts AS (
                SELECT word, CAST(count(*) AS BIGINT) AS cnt
                FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
                GROUP BY 1),
              r AS (SELECT word, cnt,
                      CAST(row_number() OVER (ORDER BY cnt DESC, word ASC) AS BIGINT)
                        AS rank,
                      CAST(sum(cnt) OVER (ORDER BY cnt DESC, word ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                        AS cum_cnt,
                      CAST(sum(cnt) OVER () AS BIGINT) AS total
                    FROM counts)
              SELECT rank, word, cnt, cum_cnt,
                     CAST(FLOOR(CAST(cum_cnt AS DOUBLE) / total * 1000000) AS BIGINT)
                       AS pct_micro
              FROM r""")),

    // ---- t33: n-gram novelty over ingestion order ------------------------
    // Dataset freshness: as the corpus is ingested in doc_id order, what
    // fraction of each document's distinct 3-gram shingles has NEVER been
    // seen in an earlier document? A healthy crawl shows high sustained
    // novelty; a stagnating one decays toward d12/d14's repeated-span
    // territory. Per-gram "first seen" is min(doc_id) as a window over
    // the gram-keyed exchange (the q60 first-occurrence rewrite — no
    // self-join back), and grams ride as 8-byte kernel hashes, never
    // strings (the Dedup discipline; equality modulo 2^-64 collisions,
    // same contract d04's oracle accepts). One gram-keyed exchange plus
    // one doc-keyed aggregate — no join against a growing "seen" state.
    ("t33_gram_novelty",
      (s, d) => {
        val grams = Tables.documents(s, d)
          .select(col("doc_id"),
            explode(org.apache.spark.sql.graft.TextHash.shingleHashSet(col("text"))).as("g"))
        val wG = Window.partitionBy(col("g"))
        grams
          .withColumn("first_doc", min(col("doc_id")).over(wG))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
              .as("n_novel"))
          .select(col("doc_id"), col("n_grams"), col("n_novel"),
            floor(col("n_novel").cast("double") / col("n_grams") * 1000000)
              .cast("long").as("novelty_micro"))
      },
      Some(s"""WITH ${Dedup.oracleShingleCte},
              f AS (SELECT doc_id, sg,
                      min(doc_id) OVER (PARTITION BY sg) AS first_doc
                    FROM sh)
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                     CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_novel,
                     CAST(FLOOR(CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
                       AS DOUBLE) / count(*) * 1000000) AS BIGINT) AS novelty_micro
              FROM f GROUP BY doc_id""")),

    // ---- t34: quality-filter threshold calibration curve ----------------
    // The deployment knob for t18's classifier, measured instead of
    // guessed (v21's tuning-curve discipline applied to filtering):
    // kept count and kept fraction at each candidate logit threshold —
    // the volume-vs-strictness table a data engineer reads before
    // setting the production cutoff (and the input to any "keep the top
    // X tokens" budget). ONE corpus pass: the scores frame aggregates
    // seven CONDITIONAL counts in a single hash-aggregate (map-side
    // combinable; no per-threshold scan, no corpus×thresholds join),
    // then `stack` pivots the 1-row aggregate into the 7-row curve —
    // driver-side cost is seven longs. Thresholds are dyadic doubles
    // and logits are IEEE-exact cross-engine (t18's argument), so the
    // strict `>` comparisons are exact; kept_frac is a ratio of exact
    // integers gridded once.
    ("t34_threshold_curve",
      (s, d) => {
        val thrs = Seq(-2.0, -1.0, -0.5, 0.0, 0.5, 1.0, 2.0)
        val agg = classifierScores(s, d).agg(
          count(lit(1)).as("n_total"),
          thrs.zipWithIndex.map { case (t, i) =>
            sum(when(col("logit") > t, 1L).otherwise(0L)).as(s"k$i")
          }: _*)
        val stackExpr = "stack(" + thrs.length + ", " +
          thrs.zipWithIndex.map { case (t, i) => s"CAST($t AS DOUBLE), k$i" }
            .mkString(", ") + ") AS (thr, n_kept)"
        agg.select(col("n_total"), expr(stackExpr))
          .select(col("thr"), col("n_kept"), col("n_total"),
            (floor(col("n_kept").cast("double") / col("n_total")
              * 1000000 + 0.5) / 1000000).as("kept_frac"))
      },
      Some(s"""WITH $oracleLogitCte,
               tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM sc),
               thr AS (SELECT unnest([-2.0, -1.0, -0.5, 0.0, 0.5, 1.0, 2.0]) AS thr)
               SELECT t.thr,
                      CAST(count(*) FILTER (WHERE s.logit > t.thr) AS BIGINT) AS n_kept,
                      tot.n_total,
                      FLOOR(CAST(count(*) FILTER (WHERE s.logit > t.thr) AS DOUBLE)
                            / tot.n_total * 1000000 + 0.5) / 1000000 AS kept_frac
               FROM thr t, sc s, tot
               GROUP BY t.thr, tot.n_total""")),

    // ---- t35: overlapping token-window chunking ------------------------
    // Context-window prep — the step between curation and packing: split
    // every document into fixed-size token windows (32 tokens, stride
    // 24 ⇒ 8-token overlap so no boundary-spanning n-gram is lost to
    // retrieval/embedding). Pure per-row HOF arithmetic: `sequence`
    // generates the stride grid, `posexplode` + `slice` cut the windows —
    // all inside whole-stage codegen, ZERO shuffles (the explode fans out
    // within the scan task), so at 100 TB this runs at parquet-scan speed
    // and the output's natural partitioning (by input split) feeds the
    // p02 packer or an embedding pass directly. Each chunk carries its
    // provenance (doc_id, chunk_idx, start_word) and an md5 content hash
    // — the join key a chunk-level dedup (d01 on chunks) or a
    // chunk→embedding pipeline needs. The oracle re-derives every window
    // from DuckDB's 1-based inclusive list slicing — stride grid, clamp
    // at the tail (last window may be short, never empty), hash.
    ("t35_chunking",
      (s, d) => Chunking.chunked(Tables.documents(s, d)),
      Some(s"""WITH ${Chunking.chunkOracleCte}
              SELECT doc_id, chunk_idx, start_word, n_tokens, chunk_hash
              FROM ch""")),

    // ---- t36: rule-based quality gate (Gopher-style) -------------------
    // The published transparent alternative to t18's learned classifier:
    // the Gopher repetition/format rule family (Rae et al. 2021, App. A)
    // as per-rule boolean flags plus the conjunction — auditable PER
    // RULE, which is why production curation stacks run both (a learned
    // score for ranking, hard rules for floor guarantees). Rules, with
    // thresholds calibrated to this corpus where the published number
    // sits outside its range (mechanism unchanged): word count in
    // [20, 100000]; mean word length in [4, 10]; '#'- and '...'-to-word
    // ratios < 0.1; fraction of words containing an alphabetic char
    // > 0.8; ≥ 2 stop words (the t01 marker union — the published rule's
    // list swap). Every feature is integer counting; the ratios are
    // single rational divisions compared against exactly-representable
    // constants — IEEE-exact cross-engine, no gridding. ZERO exchanges
    // (one scan, one kernel pass): the gate runs at parquet-scan speed
    // at any corpus size, exactly like t18 — PlanShapeSpec gates both.
    ("t36_gopher_rules",
      (s, d) => gopherRules(Tables.documents(s, d)),
      gopherOracle)
  )

  /** t36's rule projection as a reusable frame over any (doc_id,
    * source, text) input — one map-side pass, zero exchanges, which is
    * also what makes it directly streamable (the
    * EventPipeline.qualityGateStream twin applies THIS function to a
    * stream; StreamingSpec pins stream ≡ batch row-for-row). */
  private[graft] def gopherRules(docs: DataFrame): DataFrame = {
        val stop = markers.flatMap(_._2).distinct
        // Null text coalesces to "" BEFORE the features: an ingest
        // stream with a missing text must gate to keep=false (1 empty
        // "word" fails r_wordcount), never to null flags that
        // null-propagate through downstream keep logic. The curated
        // batch tables have no nulls, so the oracle is unaffected.
        docs.withColumn("text", coalesce(col("text"), lit("")))
          .select(col("doc_id"), col("source"), words(col("text")).as("w"),
            (length(col("text")) - length(replace(col("text"), lit("#"), lit(""))))
              .cast("long").as("n_hash"),
            ((length(col("text")) - length(replace(col("text"), lit("..."), lit("")))) / 3)
              .cast("long").as("n_ellipsis"))
          .select(col("doc_id"), col("source"),
            size(col("w")).cast("long").as("n_words"),
            aggregate(transform(col("w"), x => length(x).cast("long")),
              lit(0L), (a, v) => a + v).as("sum_wl"),
            // [a-zA-Z]: the Gopher rule is "contains an alphabetic
            // character" — capitalized/acronym words ("Hello", "NASA")
            // must count as alphabetic (round-7 advice).
            size(filter(col("w"), x => x.rlike("[a-zA-Z]"))).cast("long").as("n_alpha"),
            countIn(col("w"), stop).as("n_stop"),
            col("n_hash"), col("n_ellipsis"))
          .select(col("doc_id"), col("source"), col("n_words"),
            (col("sum_wl").cast("double") / col("n_words")).as("mean_wl"),
            (col("n_alpha").cast("double") / col("n_words")).as("alpha_frac"),
            col("n_stop"),
            (col("n_words") >= 20 && col("n_words") <= 100000).as("r_wordcount"),
            (col("sum_wl").cast("double") / col("n_words") >= 4.0 &&
              col("sum_wl").cast("double") / col("n_words") <= 10.0).as("r_meanwl"),
            (col("n_hash").cast("double") / col("n_words") < 0.1 &&
              col("n_ellipsis").cast("double") / col("n_words") < 0.1).as("r_symbol"),
            (col("n_alpha").cast("double") / col("n_words") > 0.8).as("r_alpha"),
            (col("n_stop") >= 2).as("r_stop"))
          .withColumn("keep",
            col("r_wordcount") && col("r_meanwl") && col("r_symbol") &&
              col("r_alpha") && col("r_stop"))
  }

  /** t36's DuckDB oracle (a def so the `defs` val above can reference
    * it without object-initialization-order hazards). */
  private def gopherOracle: Option[String] =
      Some(s"""WITH f AS (
                 SELECT doc_id, source, string_split(text, ' ') AS w,
                        CAST(len(text) - len(replace(text, '#', '')) AS BIGINT) AS n_hash,
                        CAST((len(text) - len(replace(text, '...', ''))) / 3 AS BIGINT) AS n_ellipsis
                 FROM documents),
               c AS (
                 SELECT doc_id, source,
                        CAST(len(w) AS BIGINT) AS n_words,
                        CAST(list_sum(list_transform(w, x -> len(x))) AS BIGINT) AS sum_wl,
                        CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
                        CAST(${sqlCountIn(markers.flatMap(_._2).distinct)} AS BIGINT) AS n_stop,
                        n_hash, n_ellipsis
                 FROM f),
               r AS (
                 SELECT doc_id, source, n_words,
                        CAST(sum_wl AS DOUBLE) / n_words AS mean_wl,
                        CAST(n_alpha AS DOUBLE) / n_words AS alpha_frac,
                        n_stop,
                        n_words >= 20 AND n_words <= 100000 AS r_wordcount,
                        CAST(sum_wl AS DOUBLE) / n_words >= 4.0
                          AND CAST(sum_wl AS DOUBLE) / n_words <= 10.0 AS r_meanwl,
                        CAST(n_hash AS DOUBLE) / n_words < 0.1
                          AND CAST(n_ellipsis AS DOUBLE) / n_words < 0.1 AS r_symbol,
                        CAST(n_alpha AS DOUBLE) / n_words > 0.8 AS r_alpha,
                        n_stop >= 2 AS r_stop
                 FROM c)
               SELECT *,
                      r_wordcount AND r_meanwl AND r_symbol AND r_alpha AND r_stop AS keep
               FROM r""")

  /** t13's BM25 search as a reusable frame: the top-20
    * (doc_id, dl, tf_spark, tf_join, tf_window, score) for the fixed
    * 3-term query — t19's NDCG evaluation re-ranks the same result set.
    * See the t13 entry for the corpus-never-shuffles argument (per-doc
    * tf/dl are one kernel pass; the only broadcast is the 1-row stats
    * frame; top-k is TakeOrdered). */
  /** t01's marker-count language scoring as a reusable frame —
    * (doc_id, *_score, pred_lang) for every document. ONE definition
    * shared by t01 (the labels) and t31 (their confusion-matrix audit).
    * [[oracleLangPredCte]] is its oracle twin. */
  private def langScored(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), words(col("text")).as("w"))
    val scored = markers.foldLeft(base) { case (df, (lang, set)) =>
      df.withColumn(s"${lang}_score", countIn(col("w"), set))
    }
    val Seq(en, de, es, fr) = Seq("en", "de", "es", "fr").map(l => col(s"${l}_score"))
    scored.select(
      col("doc_id"), en.as("en_score"), de.as("de_score"),
      es.as("es_score"), fr.as("fr_score"),
      when(en === 0 && de === 0 && es === 0 && fr === 0, "und")
        .when(en >= de && en >= es && en >= fr, "en")
        .when(de >= es && de >= fr, "de")
        .when(es >= fr, "es")
        .otherwise("fr").as("pred_lang"))
  }

  /** DuckDB CTE chain ending in
    * `pred(doc_id, en_score, de_score, es_score, fr_score, pred_lang)` —
    * the oracle twin of [[langScored]], shared by t01 and t31. */
  private lazy val oracleLangPredCte: String =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |sc AS (SELECT doc_id,
       |         ${sqlCountIn(markers(0)._2)} AS en_score,
       |         ${sqlCountIn(markers(1)._2)} AS de_score,
       |         ${sqlCountIn(markers(2)._2)} AS es_score,
       |         ${sqlCountIn(markers(3)._2)} AS fr_score
       |       FROM toks),
       |pred AS (SELECT doc_id, en_score, de_score, es_score, fr_score,
       |           CASE WHEN en_score = 0 AND de_score = 0 AND es_score = 0 AND fr_score = 0 THEN 'und'
       |                WHEN en_score >= de_score AND en_score >= es_score AND en_score >= fr_score THEN 'en'
       |                WHEN de_score >= es_score AND de_score >= fr_score THEN 'de'
       |                WHEN es_score >= fr_score THEN 'es'
       |                ELSE 'fr' END AS pred_lang
       |         FROM sc)""".stripMargin

  private[operators] def bm25Top20(s: SparkSession, d: String): DataFrame = {
    val terms = Seq("spark", "join", "window")
    val toks = words(col("text"))
    val perDoc = Tables.documents(s, d).select(
      col("doc_id") +:
        size(toks).cast("long").as("dl") +:
        terms.zipWithIndex.map { case (t, i) =>
          size(filter(toks, x => x === lit(t))).cast("long").as(s"tf$i")
        }: _*)
    val stats = perDoc.agg(
      count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl") +:
        terms.indices.map(i =>
          count(when(col(s"tf$i") > 0, 1)).as(s"df$i")): _*)
    val scored = perDoc.crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
      .withColumn("nrm", lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    val comps = terms.indices.map { i =>
      ((col("n_docs") - col(s"df$i") + lit(0.5)) / (col(s"df$i") + lit(0.5))) *
        ((col(s"tf$i") * lit(2.2)) / (col(s"tf$i") + col("nrm")))
    }
    scored
      .filter(col("tf0") + col("tf1") + col("tf2") > 0)
      .select(col("doc_id"), col("dl"),
        col("tf0").as("tf_spark"), col("tf1").as("tf_join"), col("tf2").as("tf_window"),
        comps.reduce(_ + _).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(20)
  }

  /** DuckDB CTE chain ending in `top20` — the oracle twin of
    * [[bm25Top20]], shared by t13 and t19. (lazy: referenced from the
    * `defs` val above, which initializes first.) */
  private[operators] lazy val oracleBm25Cte: String =
    """p AS (SELECT doc_id,
      |       CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
      |       CAST(len(list_filter(string_split(text, ' '), x -> x = 'spark')) AS BIGINT) AS tf0,
      |       CAST(len(list_filter(string_split(text, ' '), x -> x = 'join')) AS BIGINT) AS tf1,
      |       CAST(len(list_filter(string_split(text, ' '), x -> x = 'window')) AS BIGINT) AS tf2
      |     FROM documents),
      |st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl,
      |       count(*) FILTER (WHERE tf0 > 0) AS df0,
      |       count(*) FILTER (WHERE tf1 > 0) AS df1,
      |       count(*) FILTER (WHERE tf2 > 0) AS df2
      |     FROM p),
      |j AS (SELECT p.*, n_docs, df0, df1, df2,
      |       CAST(sum_dl AS DOUBLE) / n_docs AS avgdl FROM p, st),
      |n AS (SELECT *, CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE)
      |         + CAST(0.75 AS DOUBLE) * dl / avgdl) AS nrm FROM j),
      |top20 AS (SELECT doc_id, dl, tf0 AS tf_spark, tf1 AS tf_join, tf2 AS tf_window,
      |       ((n_docs - df0 + CAST(0.5 AS DOUBLE)) / (df0 + CAST(0.5 AS DOUBLE))) * ((tf0 * CAST(2.2 AS DOUBLE)) / (tf0 + nrm))
      |       + ((n_docs - df1 + CAST(0.5 AS DOUBLE)) / (df1 + CAST(0.5 AS DOUBLE))) * ((tf1 * CAST(2.2 AS DOUBLE)) / (tf1 + nrm))
      |       + ((n_docs - df2 + CAST(0.5 AS DOUBLE)) / (df2 + CAST(0.5 AS DOUBLE))) * ((tf2 * CAST(2.2 AS DOUBLE)) / (tf2 + nrm)) AS score
      |       FROM n WHERE tf0 + tf1 + tf2 > 0
      |       ORDER BY score DESC, doc_id ASC LIMIT 20)""".stripMargin

  /** t18's classifier inference as a reusable frame: (doc_id, logit) for
    * every document — p07's curriculum stages key off the same scores.
    * See the t18 entry for the exactness + zero-exchange argument. */
  private[operators] def classifierScores(s: SparkSession, d: String): DataFrame = {
    val stop = markers.flatMap(_._2).distinct
    // [bias, capped-length, type-token ratio, stopword ratio,
    //  capped-chars] — dyadic-rational weights, exact as doubles.
    val w = Array(-2.25, 2.5, 3.0, -1.25, 0.75)
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        org.apache.spark.sql.graft.TextHash
          .qualityFeaturesCol(col("text"), stop, normalize = false).as("f"))
      .select(col("doc_id"),
        array(lit(1.0),
          least(col("f.n_words"), lit(200)).cast("double") / 200,
          col("f.n_distinct").cast("double") / col("f.n_words"),
          col("f.n_stop").cast("double") / col("f.n_words"),
          least(col("n_chars"), lit(1000)).cast("double") / 1000).as("x"))
      .select(col("doc_id"),
        aggregate(zip_with(col("x"), lit(w), (xi, wi) => xi * wi),
          lit(0.0), (acc, v) => acc + v).as("logit"))
  }

  /** DuckDB CTE chain ending in `sc(doc_id, logit)` — the oracle twin of
    * [[classifierScores]], shared by t18, p07 and p17. Internal CTE
    * names are sc-prefixed so the chain can be spliced next to
    * [[Dedup.oracleCcComponents]] (whose inverted-index chain also
    * builds a `toks`) in one oracle without name collisions. */
  private[operators] lazy val oracleLogitCte: String =
    s"""sctoks AS (SELECT doc_id, n_chars, string_split(text, ' ') AS w FROM documents),
       |scfeat AS (SELECT doc_id, n_chars, len(w) AS n_words,
       |             len(list_distinct(w)) AS n_distinct,
       |             ${sqlCountIn(markers.flatMap(_._2).distinct)} AS n_stop
       |      FROM sctoks),
       |sc AS (SELECT doc_id,
       |         CAST(0.0 AS DOUBLE)
       |           + CAST(1.0 AS DOUBLE) * CAST(-2.25 AS DOUBLE)
       |           + CAST(least(n_words, 200) AS DOUBLE) / 200 * CAST(2.5 AS DOUBLE)
       |           + CAST(n_distinct AS DOUBLE) / n_words * CAST(3.0 AS DOUBLE)
       |           + CAST(n_stop AS DOUBLE) / n_words * CAST(-1.25 AS DOUBLE)
       |           + CAST(least(n_chars, 1000) AS DOUBLE) / 1000 * CAST(0.75 AS DOUBLE)
       |           AS logit
       |       FROM scfeat)""".stripMargin
}
