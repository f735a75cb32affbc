package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression gates for the scale-critical operators: the
  * specific anti-patterns the 100 TB design forbids must never reappear
  * in the executed plans, regardless of data size or AQE decisions. */
class PlanShapeSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, TestSpark.sf)
    df.queryExecution.executedPlan.treeString
  }

  test("d05 embedding dedup has no cross product or nested-loop join") {
    val p = planOf("d05_dedup_embedding")
    assert(!p.contains("CartesianProduct"), p.linesIterator.take(5).mkString("\n"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    // Round-9 shape: the STORED band table builds the hash side; the
    // 56×-bigger probe expansion must stream (a probe-side broadcast
    // was a measured 2× at sf0.1 / single-threaded 60 MB build), and
    // the probe branch must carry its repartition exchange — without
    // it the whole ~n²·4.6% join fan runs in the scan's few tasks
    // (measured: one task owning 1.45e8 rows = 32 of 40 s at sf1.0).
    assert(p.contains("Exchange hashpartitioning"),
      "probe branch lost its fan-parallelizing repartition")
  }

  test("d26 eval: pair join is the bounded broadcast loop, sample is TakeOrdered") {
    // ≤2000-row md5 sample on BOTH sides — the one place a nested-loop
    // join is the right tool (bounded by construction at any SF); the
    // sample itself must be distributed TakeOrdered, never a global sort.
    val p = planOf("d26_embdedup_eval")
    assert(p.contains("BroadcastNestedLoopJoin"), p.linesIterator.take(8).mkString("\n"))
    assert(p.contains("TakeOrderedAndProject"), "md5 sample must be TakeOrdered")
    assert(!p.contains("SortMergeJoin"), "nothing in d26 may sort-merge")
  }

  test("v01's intentional inequality join is the only nested-loop plan") {
    // v01 is a bounded pairwise demo (a_id < 30); every OTHER vector/dedup
    // operator must stay equi-join only.
    for (n <- Seq("d02_dedup_minhash", "d03_dedup_simhash", "d04_dedup_ngram",
                  "v02_knn_bruteforce", "v03_knn_lsh")) {
      val p = planOf(n)
      assert(!p.contains("CartesianProduct"), s"$n has a cartesian")
    }
  }

  test("v05 probe path is a single pruned scan with no shuffle") {
    val p = planOf("v05_knn_ivf")
    assert(!p.contains("Exchange hashpartitioning"), "probe path must not shuffle")
    assert(p.contains("TakeOrderedAndProject"), "top-k must be distributed TakeOrdered")
  }

  test("v07 batch KNN prunes map-side before its single exchange") {
    val p = planOf("v07_knn_join")
    assert(p.contains("PartialGroupedTopK"), p.linesIterator.take(8).mkString("\n"))
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 1, s"expected at most one exchange, got $exchanges")
  }

  test("v26 kNN classify keeps v07's contract: partial top-k, broadcast test set") {
    // The scored corpus must never shuffle: the only exchanges are the
    // tiny vote/rollup aggregates AFTER GroupedTopK bounded the rows.
    val p = planOf("v26_knn_classify")
    assert(p.contains("PartialGroupedTopK"), p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the held-out set must broadcast, never shuffle-join")
    assert(!p.contains("CartesianProduct"))
  }

  test("t35 chunking is pure map-side fan-out: zero exchanges, zero joins") {
    // The explode fans out inside the scan task; any exchange here would
    // shuffle every chunk of a 100 TB corpus for nothing.
    val p = planOf("t35_chunking")
    assert(!p.contains("Join"), "chunking must be join-free")
    assert(!p.contains("Exchange"), s"chunking must not shuffle:\n${p.take(600)}")
  }

  test("p18 token budget splits its per-source prefix sum like p02/p04") {
    // The corpus cumsum must be (source, bucket)-partitioned — a plain
    // per-source window puts an entire source through one task at
    // scale; any coarser window may only see the bucket-total rows, and
    // the offsets ride back as a broadcast, never a shuffle join.
    val df = SparkEntry.queries("p18_token_budget")(spark, TestSpark.sf)
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val lp = df.queryExecution.optimizedPlan
    val wins = lp.collect { case w: LWindow => w }
    assert(wins.size == 2, s"expected local + bucket-offset windows, got ${wins.size}")
    val (coarse, fine) = wins.partition(_.partitionSpec.size < 2)
    assert(fine.nonEmpty, "corpus cumsum must be (source, bucket)-partitioned")
    coarse.foreach { w =>
      assert(w.collectFirst { case a: Aggregate => a }.nonEmpty,
        s"source-level window over non-aggregated data:\n${w.treeString.take(400)}")
    }
    val p = df.queryExecution.executedPlan.treeString
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "bucket offsets must broadcast back")
  }

  test("d19 chunk dedup: join-free, only hash-and-counter exchanges") {
    // The d01 shape at chunk granularity: nothing but 16-byte hashes +
    // counters may shuffle (the distinct-doc count adds its keyed
    // partial), and the chunk stream itself never joins.
    val p = planOf("d19_chunk_dedup")
    assert(!p.contains("Join"), "chunk dedup must be join-free")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2, s"hash + distinct-doc exchanges only, got $exchanges")
  }

  test("v27 margin audit broadcasts the centroid table, never shuffle-joins") {
    val p = planOf("v27_label_margin")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the |labels|-row centroid table must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("g14 label propagation: hash equi-joins only, no cartesian") {
    val p = planOf("g14_label_propagation")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("v28 k-means: centroids broadcast, corpus never shuffle-joins") {
    // Each Lloyd pass must be one map-side assignment (all k centroids in
    // a single broadcast row) + tiny k×dim aggregates; a shuffle join or
    // a per-centroid join row-explosion here multiplies the corpus scan.
    val p = planOf("v28_kmeans")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "centroids must broadcast, never shuffle-join")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans <= 5, s"3 assignment scans + seed reads only, got $scans")
  }

  test("t36 gopher rules are pure map work: zero exchanges of any kind") {
    // The t18 contract for the rule gate: every feature is per-row
    // counting, so the whole rule family must fuse into the scan
    // projection — an exchange here would shuffle a 100 TB corpus to
    // evaluate row-local booleans.
    val p = planOf("t36_gopher_rules")
    assert(!p.contains("Exchange"), s"rule gate must not shuffle:\n${p.take(600)}")
    assert(!p.contains("Join"), "rule gate must be join-free")
  }

  test("p19 DSIR scoring is map-side: the scored corpus never shuffles") {
    // The model is collected into an 8192-slot literal lookup table at
    // build time; the returned scoring plan must be scan + projection
    // only. Any exchange/join here means the corpus is being shuffled
    // to apply a fixed-size model — the exact failure hashed features
    // exist to prevent.
    val p = planOf("p19_dsir_weights")
    assert(!p.contains("Exchange"), s"scoring must not shuffle:\n${p.take(600)}")
    assert(!p.contains("Join"), "scoring must be join-free")
  }

  test("p20 packing: split rank window, allocation broadcast, one corpus exchange") {
    // The rank must be (len, md5-bucket)-partitioned (p18's split form —
    // a plain per-length window funnels each length class through one
    // task), the solver's allocation table must ride back as a
    // broadcast, and only the rank window may touch corpus-scale rows.
    val df = SparkEntry.queries("p20_histogram_packing")(spark, TestSpark.sf)
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val lp = df.queryExecution.optimizedPlan
    val wins = lp.collect { case w: LWindow => w }
    assert(wins.size == 2, s"expected local-rank + bucket-offset windows, got ${wins.size}")
    val (coarse, fine) = wins.partition(_.partitionSpec.size < 2)
    assert(fine.nonEmpty, "corpus rank must be (len, bucket)-partitioned")
    coarse.foreach { w =>
      assert(w.collectFirst { case a: Aggregate => a }.nonEmpty,
        s"length-level window over non-aggregated data:\n${w.treeString.take(400)}")
    }
    val p = df.queryExecution.executedPlan.treeString
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "offsets and allocation must broadcast, never shuffle-join")
    assert(!p.contains("CartesianProduct"))
  }

  test("v29 balanced sample: split rank window, broadcast-only joins") {
    // Assignment is the v15 packed-argmax (map-side combinable); the
    // within-cluster rank must be (cluster, bucket)-partitioned — a
    // plain 8-partition window funnels each cluster through one task.
    val df = SparkEntry.queries("v29_balanced_sample")(spark, TestSpark.sf)
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val lp = df.queryExecution.optimizedPlan
    val wins = lp.collect { case w: LWindow => w }
    assert(wins.size == 2, s"expected local-rank + bucket-offset windows, got ${wins.size}")
    val (coarse, fine) = wins.partition(_.partitionSpec.size < 2)
    assert(fine.nonEmpty, "rank must be (cluster, bucket)-partitioned")
    coarse.foreach { w =>
      assert(w.collectFirst { case a: Aggregate => a }.nonEmpty,
        s"cluster-level window over non-aggregated data:\n${w.treeString.take(400)}")
    }
    val p = df.queryExecution.executedPlan.treeString
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "seeds/offsets/total must broadcast, never shuffle-join")
    assert(!p.contains("CartesianProduct"))
  }

  test("v30 MRL curve: corpus work bounded in 4 materialized top-k passes") {
    // The returned plan must read ONLY the 40 checkpointed top-k rows —
    // zero parquet scans, zero joins: every corpus touch happened in
    // the 4 TakeOrdered jobs materialized at build (the v21 harness
    // pattern), so re-evaluating the curve never rescans the corpus.
    val p = planOf("v30_mrl_recall")
    assert(!p.contains("Scan parquet"),
      s"corpus leaked into the curve plan:\n${p.take(600)}")
    assert(!p.contains("Join"), "hit-marking must be a literal isin, not a join")
    // And the pre-checkpoint pass really is distributed top-k: build the
    // union the operator materializes and check ITS plan directly.
    val e = graft.Tables.embeddings(spark, TestSpark.sf)
    val one = e.filter(org.apache.spark.sql.functions.col("vec_id") =!= 0)
      .orderBy(org.apache.spark.sql.functions.col("vec_id").asc).limit(10)
    assert(one.queryExecution.executedPlan.treeString
      .contains("TakeOrderedAndProject"))
  }

  test("q81 sketch eval: no corpus sort, result is bounded literals") {
    // The operator exists BECAUSE exact percentile is a sort — its own
    // plan must never contain one: corpus work happens in two bounded
    // aggregate jobs at build (sketch+exact, then rank counts), and the
    // returned frame is 9 literal rows.
    val p = planOf("q81_approx_quantiles")
    assert(!p.contains("Scan parquet"), s"corpus leaked into the result plan:\n${p.take(400)}")
    assert(!p.contains("Sort "), "quantile eval must not sort")
  }

  test("d23 winnowing: fp equi-joins only, fingerprint stream stays sparse") {
    // Candidate generation must stay the fingerprint-keyed equi-join;
    // an all-pairs rewrite (cartesian / nested-loop between doc frames)
    // would defeat winnowing's whole sparsification point.
    val p = planOf("d23_winnowing")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("t07 tf-idf never broadcasts the vocabulary-sized df table") {
    // At 100 TB the per-term df table is billions of rows: broadcasting it
    // is a guaranteed OOM. df must ride a term-keyed count window over tf
    // instead; the ONLY broadcast allowed is the single-row corpus count.
    val p = planOf("t07_tfidf")
    assert(!p.contains("BroadcastHashJoin"), "per-term df table must not be broadcast")
    assert(p.contains("Window"), "df must come from the term-keyed count window")
    val bcasts = p.linesIterator.count(_.contains("BroadcastExchange"))
    assert(bcasts <= 1, s"only the 1-row n broadcast is allowed, got $bcasts")
  }

  test("d02 minhash keeps no candidate-sized distinct (no aggregate at all)") {
    // Multi-band collisions are de-duplicated map-side by the
    // first-matching-band filter over the carried band-sig arrays; the
    // plan must contain no aggregate (the old distinct() was one).
    val p = planOf("d02_dedup_minhash")
    for (agg <- Seq("HashAggregate", "ObjectHashAggregate", "SortAggregate"))
      assert(!p.contains(agg), s"unexpected $agg — candidate distinct must stay deleted")
  }

  test("d08 contamination never shuffles the corpus gram stream") {
    val p = planOf("d08_contamination")
    // The corpus side meets the bench set only through broadcast joins.
    // The four hash exchanges are all over reduced data: bench0 distinct,
    // the bench-df aggregate (both bench-set-sized), and the two-phase
    // per-doc countDistinct over MATCHED grams only — never the raw
    // corpus gram stream.
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 4, s"unexpected exchange count $exchanges")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("d24 multi-benchmark report keeps d08's contract: corpus meets bench via broadcast") {
    // Three benchmarks ride ONE corpus gram pass: the tagged bench set
    // broadcasts, and every hash exchange is bench-set- or match-sized
    // (bench distinct, df cap, per-(doc, b) countDistinct two-phase,
    // (b, source) rollup, per-source denominators) — the raw corpus
    // gram stream itself never shuffles.
    val p = planOf("d24_decontam_report")
    assert(p.contains("BroadcastHashJoin"), "bench table must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      "no corpus-side shuffle join")
  }

  test("q44 correlated subquery decorrelates to ONE exchange (the window)") {
    // The aggregate+join-back spelling costs two shuffles of orders on
    // o_custkey; the window form must keep it to one.
    val p = planOf("q44_corr_subquery")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected exactly the o_custkey window exchange, got $exchanges")
    assert(p.contains("Window"))
  }

  test("t12 rarity never broadcasts or joins anything vocabulary-sized") {
    // Same invariant as t07: df rides a word-keyed count window; the only
    // exchanges are the word-keyed window and the doc-keyed aggregate.
    val p = planOf("t12_doc_rarity")
    assert(!p.contains("BroadcastExchange"), "nothing may broadcast in t12")
    assert(p.contains("Window"), "df must come from the word-keyed count window")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2, s"expected word-window + doc-agg exchanges only, got $exchanges")
  }

  test("p03 mixture sampling never shuffles the corpus") {
    // The keep/drop decision is map-side: the only hash exchange feeds
    // the per-source totals aggregate (sources ≪ rows), which returns as
    // a broadcast. The docs stream itself goes scan → broadcast join →
    // filter with no exchange.
    val p = planOf("p03_mixture_sample")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 1, s"only the tiny per-source aggregate may shuffle, got $exchanges")
    assert(p.contains("BroadcastHashJoin"), "rates must join back as a broadcast")
  }

  test("v10 range search is pure map-side (no exchange, no sort, no top-k state)") {
    val p = planOf("v10_range_search")
    assert(!p.contains("Exchange hashpartitioning"), "range search must not shuffle")
    assert(!p.contains("TakeOrdered") && !p.contains("Sort "),
      "range search must not rank or sort")
  }

  test("p02 packing runs no corpus-scale single-partition window") {
    // The global prefix sum must be split: the corpus-scale window is
    // PARTITIONED by bucket (parallel), and the only SinglePartition
    // exchange feeds the bucket-totals window (corpus/bucketSize rows,
    // downstream of an aggregate). A `sum() over (order by)` on the raw
    // docs would show as a SinglePartition exchange with no aggregate
    // beneath it — the definitive 100 TB killer this gate pins out.
    val df = SparkEntry.queries("p02_pack_sequences")(spark, TestSpark.sf)
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val lp = df.queryExecution.optimizedPlan
    val wins = lp.collect { case w: LWindow => w }
    assert(wins.size == 2, s"expected local + bucket-total windows, got ${wins.size}")
    val (global, parted) = wins.partition(_.partitionSpec.isEmpty)
    assert(parted.nonEmpty, "doc-level cumsum must be bucket-partitioned (parallel)")
    assert(global.nonEmpty, "bucket-offset window missing")
    // The unpartitioned (single-task) window may only see AGGREGATED
    // rows — one per bucket — never the raw document stream.
    global.foreach { w =>
      assert(w.collectFirst { case a: Aggregate => a }.nonEmpty,
        s"global window over non-aggregated data:\n${w.treeString.take(400)}")
    }
  }

  test("p04 shuffle-shard splits its prefix sum like p02") {
    // Same 100 TB invariant as p02: the corpus-order cumsum must be
    // bucket-partitioned, and any unpartitioned window may only see the
    // aggregated bucket totals (256 rows), never the raw doc stream.
    val df = SparkEntry.queries("p04_shuffle_shard")(spark, TestSpark.sf)
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val lp = df.queryExecution.optimizedPlan
    val wins = lp.collect { case w: LWindow => w }
    assert(wins.size == 2, s"expected local + bucket-total windows, got ${wins.size}")
    val (global, parted) = wins.partition(_.partitionSpec.isEmpty)
    assert(parted.nonEmpty, "doc-level cumsum must be bucket-partitioned (parallel)")
    global.foreach { w =>
      assert(w.collectFirst { case a: Aggregate => a }.nonEmpty,
        s"global window over non-aggregated data:\n${w.treeString.take(400)}")
    }
  }

  test("t13 search never shuffles the corpus and takes top-k without a global sort") {
    // Corpus stats collapse to ONE aggregate row that joins back as a
    // broadcast; scoring is map-side; the ranking is TakeOrdered
    // (per-partition heaps), not Sort+Limit over the corpus.
    val p = planOf("t13_bm25_search")
    assert(!p.contains("Exchange hashpartitioning"),
      "search must not hash-shuffle the corpus")
    assert(p.contains("TakeOrdered"), "top-k must be TakeOrdered, not a global sort")
  }

  test("p05 dataset split is pure map-side work — zero exchanges") {
    // The split is a function of each row alone; any exchange or
    // broadcast in this plan is a regression (p03's broadcast is for its
    // per-source rates; p05 has no such state).
    val p = planOf("p05_dataset_split")
    assert(!p.contains("Exchange"), s"split must not shuffle:\n${p.take(400)}")
  }

  test("t15 LM scoring keeps model counts on the stream's own exchanges") {
    // The bigram model must never materialize as a broadcast or a
    // vocabulary-keyed dimension join: both counts ride count windows
    // over the bigram stream (bigram-keyed, then left-word-keyed), plus
    // one doc-keyed aggregate = at most 3 hash exchanges, 0 broadcasts.
    val p = planOf("t15_ngram_lm")
    assert(!p.contains("BroadcastExchange"), "no vocabulary-sized broadcast")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 3, s"expected <= 3 exchanges, got $exchanges")
  }

  test("t14 zipf ranks inside source partitions, never a global sort") {
    // The rank window is partitioned by source — a global (empty
    // partition spec) window would pull the whole vocabulary through one
    // task at 100 TB.
    val df = SparkEntry.queries("t14_zipf")(spark, TestSpark.sf)
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      "rank window must be source-partitioned")
  }

  test("d13 incremental dedup: no cartesian, no candidate distinct") {
    // Batch×corpus band join is equi-keyed; multi-band collisions are
    // removed map-side (first-matching-band) and the final drops are
    // LEFT ANTI joins — so the plan has no aggregate (a distinct would
    // be one) and no cross product.
    val p = planOf("d13_incremental_dedup")
    assert(!p.contains("CartesianProduct"))
    for (agg <- Seq("HashAggregate", "ObjectHashAggregate", "SortAggregate"))
      assert(!p.contains(agg), s"unexpected $agg — cascade must stay distinct-free")
  }

  test("v11 SemDeDup pairs only within cells (equi-join on cell, no cartesian)") {
    val p = planOf("v11_semdedup")
    assert(!p.contains("CartesianProduct"), "within-cell pairs must be cell-keyed")
    assert(!p.contains("BroadcastNestedLoopJoin"), "within-cell pairs must be cell-keyed")
  }

  test("s08 gapfill scans the corpus exactly once") {
    // Bounds + type domain + fill join all derive from the checkpointed
    // hourly aggregate: the final plan must contain NO parquet scan of
    // the events table at all — the one corpus pass happened when the
    // aggregate materialized.
    val p = planOf("s08_gapfill")
    val eventScans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("events"))
    assert(eventScans == 0,
      s"s08 re-scans the corpus ($eventScans scans):\n${p.take(800)}")
    assert(p.contains("ExistingRDD"),
      "consumers must read the checkpointed aggregate")
  }

  test("d14 span excision: strings ride only doc-keyed exchanges, gram stream shuffles narrow") {
    val p = planOf("d14_span_excision")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    // TYPED exchange inspection (a key-name sniff can't see what rides
    // an exchange): every shuffle whose rows carry a string or
    // string-array column must be hash-keyed by doc_id — the single
    // reconstruction join. All other exchanges (the gram stream) carry
    // only fixed-width integer columns.
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val df = SparkEntry.queries("d14_span_excision")(spark, TestSpark.sf)
    // sparkPlan predates EnsureRequirements (no exchanges yet); unwrap
    // the adaptive root to see the physical plan with exchanges.
    val phys = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case o => o
    }
    val shuffles = phys.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.nonEmpty, "expected gram-stream and doc-keyed exchanges")
    shuffles.foreach { s =>
      val stringy = s.output.exists(a =>
        a.dataType == StringType || a.dataType == ArrayType(StringType) ||
          a.dataType == ArrayType(StringType, containsNull = false))
      if (stringy) s.outputPartitioning match {
        case h: HashPartitioning =>
          assert(h.expressions.forall(_.references.forall(_.name == "doc_id")),
            s"string-carrying exchange keyed off doc_id: ${h.expressions}")
        case other => fail(s"string-carrying exchange with $other")
      }
    }
  }

  test("t18 classifier inference is pure map work: zero exchanges of any kind") {
    val p = planOf("t18_quality_classifier")
    assert(!p.contains("Exchange"), s"inference must not shuffle:\n${p.take(600)}")
  }

  test("p06 end-to-end pipeline: every unpartitioned window sees only aggregated rows") {
    // The composed pipeline inherits p02/p04's invariant: corpus-scale
    // cumsums are bucket-partitioned (parallel); any single-task window
    // (empty partition spec) may only be the bucket-TOTAL cumsum — it
    // must order by `bkt` AND sit directly over the bkt-grouped
    // Aggregate. (An Aggregate merely somewhere in the subtree is not
    // enough here: p06's broadcast rates aggregate would make that
    // check pass even for a naive global cumsum over raw train rows.)
    val df = SparkEntry.queries("p06_pipeline_e2e")(spark, TestSpark.sf)
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty)
    val globals = wins.filter(_.partitionSpec.isEmpty)
    assert(globals.nonEmpty, "bucket-offset window missing")
    globals.foreach { w =>
      assert(w.orderSpec.exists(_.child.references.exists(_.name == "bkt")),
        s"single-task window must order by the bucket key:\n${w.treeString.take(400)}")
      assert(w.child.collectFirst { case a: Aggregate => a }
          .exists(_.groupingExpressions.exists(_.references.exists(_.name == "bkt"))),
        s"single-task window must run over the bkt-grouped totals:\n${w.treeString.take(400)}")
    }
  }

  test("s09 anomaly detection windows run over the post-aggregate series only") {
    // The z-score window must be (a) key-partitioned and (b) computed
    // over the hourly Aggregate's output — windowing raw events
    // PARTITION BY event_type would put an entire event type through
    // one task at 100 TB.
    val df = SparkEntry.queries("s09_anomaly")(spark, TestSpark.sf)
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      "z-score window must be key-partitioned")
    wins.foreach { w =>
      assert(w.child.collectFirst { case a: Aggregate => a }.nonEmpty,
        s"window over non-aggregated events:\n${w.treeString.take(400)}")
    }
  }

  test("t16 perplexity bucketing never ranks through a single task") {
    // Both the LM count windows (bigram/w1-keyed) and the tercile rank
    // (lang-keyed) must be partitioned — a global ntile would pull every
    // scored doc through one task at 100 TB.
    val df = SparkEntry.queries("t16_ppl_buckets")(spark, TestSpark.sf)
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      "all t16 windows must be key-partitioned")
  }

  test("s08 gap fill: spine is dimension-sized and the fill join broadcasts") {
    // The corpus crosses ONE aggregate; the spine (1-row bounds × type
    // domain) and the hourly aggregate are both dimension-scale, so the
    // fill must be a BROADCAST join — a sort-merge/shuffle-hash join
    // here means Catalyst thinks one side is corpus-scale, which is the
    // regression this pins against.
    val p = planOf("s08_gapfill")
    assert(!p.contains("CartesianProduct"), "spine cross join must be broadcast (1-row side)")
    assert(p.contains("BroadcastHashJoin"), "fill join must broadcast a dimension-scale side")
    assert(!p.contains("SortMergeJoin"),
      "no corpus-scale join strategy may appear in the gap-fill plan")
  }

  test("q60 windowed count-distinct: ONE exchange serves both windows") {
    // The explicit repartition(user_id) must satisfy BOTH window
    // distributions (HashPartitioning(user) clusters (user, event_type)
    // too) — a second exchange means Spark re-partitioned for the
    // (user, type) window and the single-shuffle claim regressed.
    val p = planOf("q60_window_distinct")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected exactly one exchange, got $exchanges")
  }

  test("s10 cusum scans the corpus exactly once, recurrence is map-side") {
    // Same contract as s08: bounds/types/fill derive from the
    // checkpointed hourly aggregate (zero event scans in the final
    // plan), and the per-type recurrence must be a higher-order
    // aggregate over each type's own hour array — never a
    // corpus-per-row window or join.
    val p = planOf("s10_cusum")
    val eventScans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("events"))
    assert(eventScans == 0, s"s10 re-scans the corpus ($eventScans scans)")
    assert(p.contains("ExistingRDD"),
      "consumers must read the checkpointed aggregate")
    assert(!p.contains("CartesianProduct"))
  }

  test("p07 curriculum splits its global order like p02/p04") {
    // The corpus-scale row_number must be (stage, bucket)-partitioned;
    // any unpartitioned window may only see the aggregated group totals
    // (~1024 rows), never the raw doc stream.
    val df = SparkEntry.queries("p07_curriculum")(spark, TestSpark.sf)
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val lp = df.queryExecution.optimizedPlan
    val wins = lp.collect { case w: LWindow => w }
    assert(wins.size == 2, s"expected local + group-total windows, got ${wins.size}")
    val (global, parted) = wins.partition(_.partitionSpec.isEmpty)
    assert(parted.nonEmpty, "doc-level row_number must be group-partitioned")
    global.foreach { w =>
      assert(w.collectFirst { case a: Aggregate => a }.nonEmpty,
        s"global window over non-aggregated data:\n${w.treeString.take(400)}")
    }
  }

  test("d16 containment keeps the d04 candidate discipline (no cartesian)") {
    val p = planOf("d16_containment")
    assert(!p.contains("CartesianProduct"), "containment must stay inverted-index driven")
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("s11 event gaps: ONE type-keyed exchange serves the lag window and the aggregate") {
    // The window partitions by event_type and the groupBy keys on it too
    // — the aggregate must reuse the window's exchange, not add one.
    val p = planOf("s11_event_gaps")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected exactly one exchange, got $exchanges")
  }

  test("s13 conversion lag co-partitions its user-keyed stages") {
    // view-agg, join and first-purchase-agg all key on user_id; the
    // (user_id, v_us) aggregate is satisfied by HashPartitioning(user).
    val p = planOf("s13_conversion_lag")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 3, s"user-keyed stages re-shuffling: $exchanges exchanges")
    assert(!p.contains("CartesianProduct"))
  }

  test("d17 crawl diff and q61 scd2 stay equi-join only") {
    for (n <- Seq("d17_crawl_diff", "q61_scd2")) {
      val p = planOf(n)
      assert(!p.contains("CartesianProduct"), s"$n has a cartesian")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$n has a nested-loop join")
    }
  }

  test("q62 gaps-and-islands: ONE exchange serves dedup, position and both aggregates") {
    // repartition(user_id) must satisfy the (user, hr) dedup window, the
    // user-ordered position window, the (user, grp) aggregate AND the
    // final user aggregate — everything after the single shuffle is
    // sort/agg-local. A second exchange means one of the four stages
    // stopped being clustered by user_id.
    val p = planOf("q62_gaps_islands")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected exactly one exchange, got $exchanges")
  }

  test("s14 attribution: user-keyed window, channel aggregate, no joins") {
    // The last-touch carry is a window max, never an as-of join: the plan
    // must contain NO join at all, and only the user window exchange plus
    // the #channels-sized aggregate exchange.
    val p = planOf("s14_attribution")
    assert(!p.contains("Join"), "attribution must be join-free (window carry)")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 3, s"window + distinct-agg exchanges only, got $exchanges")
  }

  test("g04 clustering keeps g02's bounded wedge join (equi-join only)") {
    val p = planOf("g04_clustering")
    assert(!p.contains("CartesianProduct"), "wedge join must stay equi-keyed")
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("s15 transitions: join-free — lag window, pair aggregate, tiny normalizer") {
    // The probability normalization must ride a window over the |types|²
    // aggregate OUTPUT, never join totals back against the corpus.
    val p = planOf("s15_transitions")
    assert(!p.contains("Join"), "transition matrix must be join-free")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 3, s"lag + pair-agg + tiny normalizer only, got $exchanges")
  }

  test("v15 cluster assignment: integer argmax, no window, no shuffle-side join") {
    // The 8-row seed table fans out via broadcast nested-loop (intended —
    // the v02 pattern); the argmax must be a map-side-combinable long max,
    // NOT a per-vector window (which would force a vec_id sort-shuffle of
    // the ×8 frame before any reduction).
    val p = planOf("v15_cluster_assign")
    assert(!p.contains("Window"), "argmax must be packed-long max(), not a window")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "seed fan-out must broadcast, never shuffle")
    assert(p.contains("partial_max") || p.contains("HashAggregate"),
      "per-vector argmax must be an aggregate with map-side combine")
  }

  test("p09 dq checks: anti-join integrity, broadcast dims, no violation-row shuffle") {
    val p = planOf("p09_dq_checks")
    assert(p.contains("LeftAnti"), "orphan checks must plan as anti joins")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin"),
      "the customer dim side must broadcast in the orphan-FK check")
  }

  test("q63 ranking quartet: ONE exchange + one sort serve all four windows") {
    // ntile / percent_rank / cume_dist / nth_value share partition key
    // AND sort order, so Catalyst must collapse them onto a single
    // priority-keyed exchange and a single sort.
    val p = planOf("q63_window_funcs")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected exactly one exchange, got $exchanges")
    val sorts = p.linesIterator.count(_.contains("Sort ["))
    assert(sorts <= 1, s"windows must share one sort, got $sorts")
  }

  test("t23 keyness: corpus collapses once, then vocabulary-sized exchanges only") {
    // The (source, word) aggregate is checkpointed; downstream only the
    // word-keyed window, the source-keyed window (the rank window reuses
    // its clustering) and the countDistinct partial INSIDE the 1-row
    // totals broadcast may shuffle — all vocabulary-sized.
    val p = planOf("t23_keyness")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 3, s"word/source windows + totals partial only, got $exchanges")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "corpus totals must broadcast, never shuffle-join")
  }

  test("g06 bipartite projection: pairs explode from arrays, never a corpus self-join") {
    // The user-keyed collect_set ran at checkpoint time; the projection
    // plan itself may only aggregate the bounded per-user pair fan-out
    // and broadcast the |types|-row audience counts.
    val p = planOf("g06_bipartite")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "audience counts must broadcast, never shuffle-join")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2, s"pair + audience aggregates only, got $exchanges")
  }

  test("p10 epoch plan splits its per-epoch prefix sum like p02/p04") {
    // Corpus-order counting must stay (epoch, bucket)-partitioned; any
    // coarser window may only see the 768 aggregated bucket totals.
    val df = SparkEntry.queries("p10_epoch_plan")(spark, TestSpark.sf)
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val lp = df.queryExecution.optimizedPlan
    val wins = lp.collect { case w: LWindow => w }
    assert(wins.size == 2, s"expected local + bucket-total windows, got ${wins.size}")
    val (coarse, fine) = wins.partition(_.partitionSpec.size < 2)
    assert(fine.nonEmpty, "doc-level count must be (epoch, bucket)-partitioned")
    coarse.foreach { w =>
      assert(w.collectFirst { case a: Aggregate => a }.nonEmpty,
        s"epoch-level window over non-aggregated data:\n${w.treeString.take(400)}")
    }
  }

  test("q65 reorder gaps: custkey exchange reused by window and join") {
    // The orders side is hash-partitioned on o_custkey by the lag window;
    // the customer equi-join must reuse that partitioning, adding only
    // the customer-side exchange and the 5-row segment aggregate — an
    // orders-side re-shuffle means the join key stopped matching the
    // window key.
    val p = planOf("q65_reorder_gap")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 3, s"window + customer + segment agg only, got $exchanges")
    assert(!p.contains("CartesianProduct"))
  }

  test("t25 heaps: nothing vocabulary-sized is broadcast or collected") {
    // First occurrence is a word-keyed min on the explode's own exchange;
    // the only broadcasts are the 1-row min/max bounds and the ten-row
    // bucket frames. A vocabulary-sized broadcast would OOM the driver
    // at corpus scale.
    val p = planOf("t25_heaps")
    val bcasts = p.linesIterator.count(_.contains("BroadcastExchange"))
    assert(bcasts <= 3, s"bounds + ten-row frame broadcasts only, got $bcasts")
    assert(!p.contains("CartesianProduct"))
  }

  test("q67 frame exclusion stays a single window pass — no self-join") {
    // The naive EXCLUDE CURRENT ROW rewrite joins each row to its n−1
    // partition siblings (Σ n_c² rows); the leave-one-out arithmetic
    // form must be one window on the partition key's own exchange.
    val p = planOf("q67_window_exclude")
    assert(!p.contains("Join"), "leave-one-out must not self-join")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"one custkey window exchange only, got $exchanges")
  }

  test("s18 sweep-line: one type-keyed exchange serves window AND peak agg") {
    // The running sum hash-partitions by event_type; the per-type peak
    // aggregate must reuse that partitioning, not add its own exchange.
    val p = planOf("s18_peak_concurrency")
    assert(!p.contains("Join"))
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"one event_type exchange only, got $exchanges")
  }

  test("t28/p12 per-doc kernels collapse through ONE source aggregate") {
    for (n <- Seq("t28_sentences", "p12_pack_efficiency")) {
      val p = planOf(n)
      assert(!p.contains("Join"), s"$n must be join-free")
      val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(exchanges == 1, s"$n: one source-keyed exchange only, got $exchanges")
    }
  }

  test("v17 dim stats partial-aggregate before the 64-key exchange") {
    // The exchange must carry per-task partials (≤dims rows per task),
    // never the exploded (rows × dims) stream.
    val p = planOf("v17_dim_stats")
    assert(p.contains("partial_sum"), "map-side combine must be present")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"one dim-keyed exchange only, got $exchanges")
    assert(!p.contains("Join"))
  }

  test("g09 jaccard: inverted-index equi-joins only, no cartesian") {
    // Co-neighbor enumeration must stay the shared-neighbor equi-join
    // (Σ deg² bounded by the hub cap) — an all-pairs rewrite would show
    // as a cartesian/nested-loop between node frames.
    val p = planOf("g09_jaccard")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("p15 balance audit splits its global rank like p02/p04") {
    // Gini's corpus-scale rank must be band-partitioned; any
    // unpartitioned window may only see the aggregated band totals
    // (≤64 rows), never the raw doc stream.
    val df = SparkEntry.queries("p15_balance_audit")(spark, TestSpark.sf)
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val lp = df.queryExecution.optimizedPlan
    val wins = lp.collect { case w: LWindow => w }
    val (global, parted) = wins.partition(_.partitionSpec.isEmpty)
    assert(parted.nonEmpty, "doc-level rank must be band-partitioned (parallel)")
    global.foreach { w =>
      assert(w.collectFirst { case a: Aggregate => a }.nonEmpty,
        s"global window over non-aggregated data:\n${w.treeString.take(400)}")
    }
  }

  test("s20 survival scans the corpus exactly once") {
    // The per-user aggregate is checkpointed and carries the horizon
    // max; bounds and every KM window derive from it — zero event
    // scans in the final plan, windows over the hour-sized step frame.
    val p = planOf("s20_survival")
    val eventScans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("events"))
    assert(eventScans == 0, s"s20 re-scans the corpus ($eventScans scans)")
    assert(p.contains("ExistingRDD"),
      "consumers must read the checkpointed per-user aggregate")
    assert(!p.contains("CartesianProduct") || p.contains("BroadcastExchange"),
      "the 1-row bounds must broadcast")
  }

  test("v20 multi-probe keeps the corpus side broadcast-joined, no sort-merge") {
    // The probe table (80 rows) must broadcast onto the banded corpus
    // stream; a sort-merge join here would shuffle the whole band table
    // per query. Candidate dedup must stay map-side (no aggregate
    // between the join and the top-k).
    val p = planOf("v20_knn_multiprobe")
    assert(p.contains("BroadcastHashJoin"), "probe join must broadcast")
    assert(!p.contains("SortMergeJoin"))
    assert(p.contains("TakeOrderedAndProject"), "top-k must not be a global sort")
  }

  test("s22/s23 fan out AFTER the corpus collapses — no per-event explode") {
    // Both rolling operators bound their explode by presence/hourly rows
    // (post-aggregate), never raw events: the checkpointed aggregate is
    // the only thing the final plan reads, and the 1-row bounds meet it
    // by broadcast, not shuffle.
    for (n <- Seq("s22_rolling_actives", "s23_ewma")) {
      val p = planOf(n)
      val eventScans = p.linesIterator.count(l =>
        l.contains("FileScan parquet") && l.contains("events"))
      assert(eventScans == 0, s"$n re-scans the corpus ($eventScans scans)")
      assert(p.contains("ExistingRDD"),
        s"$n must read the checkpointed presence/hourly aggregate")
      assert(p.contains("Generate"), s"$n lost its bounded explode")
      assert(!p.contains("SortMergeJoin"),
        s"$n: the 1-row bounds must broadcast, never sort-merge")
    }
  }

  test("t33 novelty: first-occurrence rides a window, never a join-back") {
    // Per-gram min(doc_id) must be the gram-keyed window (the q60
    // rewrite); a join of grams against a grams-aggregate would shuffle
    // the gram stream twice.
    val p = planOf("t33_gram_novelty")
    for (j <- Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
      assert(!p.contains(j), s"t33 must not join: found $j")
    assert(p.contains("Window"), "first_doc must come from the gram window")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2, s"t33: gram window + doc agg only, got $exchanges")
  }

  test("v23 hamming KNN: packed words are map-side, top-k is TakeOrdered") {
    // The packing expressions and the XOR+popcount distance are narrow
    // map work over the scan; candidate selection must be distributed
    // TakeOrdered (never a global sort), and the only join is the 1-row
    // query broadcast.
    val p = planOf("v23_knn_hamming")
    assert(p.contains("TakeOrderedAndProject"), "top-k must be TakeOrdered")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "only the 1-row query broadcast may join")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 0, s"hamming scan must not shuffle, got $exchanges")
  }

  test("q78 latest-per-key is one exchange and no join") {
    val p = planOf("q78_distinct_on")
    for (j <- Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
      assert(!p.contains(j), s"q78 must not join: found $j")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"q78: the custkey window exchange only, got $exchanges")
  }

  test("t34 threshold curve is ONE corpus aggregate, no per-threshold scan") {
    // Seven thresholds must not become seven scans or a corpus×thresholds
    // join: the curve is conditional counts in a single hash-aggregate
    // (one exchange), stack-pivoted afterwards.
    val p = planOf("t34_threshold_curve")
    for (j <- Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
      assert(!p.contains(j), s"t34 must not join: found $j")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"t34: one corpus scan, got $scans")
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2, s"t34: global-agg exchanges only, got $exchanges")
  }

  test("d07 hash sampling is a map-side filter + one aggregate exchange") {
    // The deterministic sampler must stay selection-at-scan-speed: the
    // keep rule is a per-row hash threshold (no join against a
    // fractions table, no window, no extra shuffle); the only exchange
    // is the per-stratum count's. The export write runs once per corpus
    // and is not part of this plan.
    val p = planOf("d07_sample_stratified")
    for (j <- Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin", "Window"))
      assert(!p.contains(j), s"d07 must not $j:\n${p.take(400)}")
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1, s"d07: the lang-count exchange only, got $exchanges")
  }

  test("TPC-H battery: no cartesians, every LIMIT is a TakeOrdered") {
    // The battery exists to stress join order; the one shape it must
    // never produce is an unkeyed join, and its topk queries must cap
    // at TakeOrderedAndProject (k rows per task), never a global sort.
    // q91 is exempt from the nested-loop ban for ONE join: its scalar
    // global-average subquery is a broadcast single-row cross join (the
    // decorrelated form — one row, bounded by construction).
    for (n <- Seq("q82_tpch_q3", "q83_tpch_q7", "q84_tpch_q9",
                  "q85_tpch_q18", "q86_tpch_q21", "q87_tpch_q8",
                  "q88_tpch_q10", "q89_tpch_q13", "q90_tpch_q17",
                  "q92_tpch_q12", "q93_tpch_q14", "q94_tpch_q4",
                  "q95_tpch_q5", "q96_tpch_q6", "q97_tpch_q15",
                  "q98_tpch_q19", "q99_tpch_q20")) {
      val p = planOf(n)
      assert(!p.contains("CartesianProduct"), s"$n has a cartesian")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$n has a nested loop")
    }
    for (n <- Seq("q82_tpch_q3", "q85_tpch_q18", "q86_tpch_q21", "q88_tpch_q10"))
      assert(planOf(n).contains("TakeOrderedAndProject"),
        s"$n topk must be TakeOrdered, not sort+limit")
  }

  test("q89 keeps its outer join outer; q90/q93 part prefilters broadcast") {
    // Q13's zero-order bucket exists only while the join stays LEFT —
    // an accidental inner conversion silently passes at row level on
    // order-dense corpora and corrupts the distribution at scale.
    val p89 = planOf("q89_tpch_q13")
    assert(p89.contains("LeftOuter"), p89.linesIterator.take(8).mkString("\n"))
    // Q17's brand filter and Q14's 2-column part projection must reach
    // the fact scan as broadcast prefilters — a shuffled part join
    // would move the lineitem corpus to answer a one-brand question.
    for (n <- Seq("q90_tpch_q17", "q93_tpch_q14")) {
      val p = planOf(n)
      assert(p.contains("BroadcastHashJoin"), s"$n lost its broadcast prefilter")
      assert(!p.contains("SortMergeJoin"), s"$n shuffles the fact side for a dim join")
    }
    // Q22: the anti join must stay an ANTI (never a dropped-row inner),
    // and the average arrives as one broadcast row.
    val p91 = planOf("q91_tpch_q22")
    assert(p91.contains("LeftAnti"), p91.linesIterator.take(8).mkString("\n"))
  }

  test("q94-q99 round-10 TPC-H shapes: semi joins, pushdowns, one-scan views") {
    // Q4's EXISTS must plan as a LEFT SEMI — an inner join would count
    // an order once per qualifying line.
    assert(planOf("q94_tpch_q4").contains("LeftSemi"))
    // Q6 is THE scan-aggregate: any join is a regression, and the only
    // exchange is the final single-partition aggregate's.
    val p96 = planOf("q96_tpch_q6")
    assert(!p96.contains("Join"), s"q96 grew a join:\n${p96.take(400)}")
    assert(p96.linesIterator.count(_.contains("Exchange")) == 1,
      "q96: exactly the final-agg exchange")
    // Q15's revenue view materializes ONCE (localCheckpoint): the final
    // plan reads the checkpointed rows for both the join and the max —
    // a lineitem scan here means each consumer re-ran the quarter scan.
    val p97 = planOf("q97_tpch_q15")
    assert(!p97.contains("lineitem"), "q97 re-scans lineitem per consumer")
    assert(p97.contains("Scan ExistingRDD"), "q97 lost its revenue view cut")
    // Q19's disjunction must decompose: the brand IN lands on the part
    // side (visible in the scan's filter), the join stays a broadcast
    // prefilter, and no fact-side shuffle appears.
    val p98 = planOf("q98_tpch_q19")
    assert(p98.contains("IN (Brand#12,Brand#23,Brand#34)"),
      "q98 part-side brand IN not pushed out of the disjunction")
    assert(p98.contains("BroadcastHashJoin") && !p98.contains("SortMergeJoin"),
      "q98 lost its broadcast prefilter")
    // Q20: supplier screen is a LEFT SEMI over the dominant-supplier
    // set, and the pq aggregate feeds both consumers from ONE pass: the
    // final adaptive plan scans lineitem once, and the second consumer
    // reads that scan's exchange back (ReusedExchange).
    val p99 = planOf("q99_tpch_q20")
    assert(p99.contains("LeftSemi"), "q99 supplier screen must be semi")
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val q99 = SparkEntry.queries("q99_tpch_q20")(spark, TestSpark.sf)
    q99.collect()
    val done = q99.queryExecution.executedPlan
    val lineitemScans = TestSpark.collect(done) {
      case s: FileSourceScanExec if s.relation.location.rootPaths.exists(_.getName == "lineitem.parquet") => s
    }
    val reused = TestSpark.collect(done) { case r: ReusedExchangeExec => r }
    assert(lineitemScans.size == 1 && reused.size == 1,
      s"q99 scans lineitem ${lineitemScans.size}x with ${reused.size} reused exchanges:\n" +
        done.treeString.take(1500))
  }

  test("q86 rewrite scans lineitem twice, not the canonical three times") {
    // The EXISTS/NOT-EXISTS battery would scan lineitem for l1, l2 and
    // l3; the aggregate rewrite must hold the fact-table scans at two
    // (the at-fault rows + the per-order supplier profile) — a third
    // scan means someone reintroduced a self-join arm.
    val p = planOf("q86_tpch_q21")
    val liScans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("lineitem"))
    assert(liScans <= 2, s"q86: $liScans lineitem scans:\n${p.take(600)}")
  }

  test("q85 filters orders through a semi join before the fact re-join") {
    val p = planOf("q85_tpch_q18")
    assert(p.contains("LeftSemi"), s"q85 lost its semi join:\n${p.take(400)}")
  }

  test("d25 span chaining: hash equi-joins only, top-k is TakeOrdered") {
    // The pair generator must stay the df-capped gram-hash self-join —
    // an all-pairs doc×doc rewrite would be quadratic in the corpus —
    // and the span ranking must never globally sort the run stream.
    val p = planOf("d25_dedup_longest_span")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("TakeOrderedAndProject"), "d25 top-k must be TakeOrdered")
  }
}
