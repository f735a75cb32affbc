package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the round-7 additions (t35 chunking, p18
  * token budget, g14 LPA communities, v26 kNN classify) — the properties
  * the DuckDB oracle's value-compare can't state directly (coverage,
  * caps, refinement, baseline-beating). */
class NewOpsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private def run(name: String) = SparkEntry.queries(name)(spark, TestSpark.sf)

  test("t35 chunks tile every document: stride grid, exact tail coverage") {
    val chunks = run("t35_chunking")
    // Stride grid: every start is chunk_idx * 24.
    assert(chunks.filter(col("start_word") =!= col("chunk_idx") * 24).count() == 0)
    // No empty chunk, none longer than the window.
    assert(chunks.filter(col("n_tokens") < 1 || col("n_tokens") > 32).count() == 0)
    // Exact end coverage per doc: the furthest chunk ends AT the word
    // count (never short of it, never past it), and the chunk count is
    // the stride formula ⌈nw/24⌉ adjusted for the ≤32 window tail.
    val perDoc = chunks.groupBy("doc_id").agg(
      max(col("start_word") + col("n_tokens")).as("covered"),
      count(lit(1)).as("n_chunks"))
    val docs = Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("nw"))
    val joined = perDoc.join(docs, "doc_id")
    assert(joined.filter(col("covered") =!= col("nw")).count() == 0)
    assert(joined.filter(col("n_chunks") =!=
      (floor((col("nw") - 1) / 24) + 1)).count() == 0)
  }

  test("p18 budget cap is hard and the kept set is a prefix") {
    val audit = run("p18_token_budget").collect()
    assert(audit.nonEmpty)
    audit.foreach { r =>
      val kept = r.getAs[Long]("tokens_kept")
      val total = r.getAs[Long]("tokens_total")
      assert(kept <= 3000L, s"budget overrun: $r")
      assert(kept <= total && r.getAs[Long]("n_docs_kept") <= r.getAs[Long]("n_docs_total"))
      // If the budget didn't bind (everything kept), fill = total/3000;
      // if it did, at least one more doc existed than was kept.
      if (r.getAs[Long]("n_docs_kept") == r.getAs[Long]("n_docs_total"))
        assert(kept == total)
    }
    // PREFIX-ness: per source, the kept counters must equal the maximal
    // md5-ordered prefix whose running token sum stays within budget —
    // an arbitrary subset under the cap would pass the bounds above but
    // break the growth-invariant ordering downstream mixers rely on.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")).asc, col("doc_id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val prefix = Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("nt"))
      .withColumn("cum", sum(col("nt")).over(w))
      .filter(col("cum") <= 3000L)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("p_docs"), sum(col("nt")).as("p_tokens"))
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("p_docs"), r.getAs[Long]("p_tokens"))).toMap
    audit.foreach { r =>
      val exp = prefix.getOrElse(r.getAs[String]("source"), (0L, 0L))
      assert((r.getAs[Long]("n_docs_kept"), r.getAs[Long]("tokens_kept")) == exp,
        s"kept set is not the md5-order prefix for ${r.getAs[String]("source")}")
    }
  }

  test("g14 LPA refines g03's components: same nodes, never fewer groups") {
    val comp = run("g03_components").agg(
      sum("n_users").as("nodes"), count(lit(1)).as("groups")).head()
    val lpa = run("g14_label_propagation").agg(
      sum("n_users").as("nodes"), count(lit(1)).as("groups")).head()
    // Same proximity graph ⇒ identical node universe.
    assert(lpa.getAs[Long]("nodes") == comp.getAs[Long]("nodes"))
    // A community never spans components, so LPA can only refine.
    assert(lpa.getAs[Long]("groups") >= comp.getAs[Long]("groups"))
  }

  test("v26 kNN classify accounts for every held-out vector, deterministically") {
    // The synthetic embeddings are nearly label-random (within-label mean
    // cosine ≈ cross-label), so this is exactly the case the eval exists
    // to EXPOSE: accuracy lands near the 1/|classes| floor, telling the
    // pipeline not to trust label-based semantic thresholds. The spec
    // therefore pins the harness contract, not a data property: every
    // held-out vector is classified exactly once, correctness is bounded,
    // and the vote is a pure function of the corpus.
    val rows = run("v26_knn_classify").collect()
    val nTest = rows.map(_.getAs[Long]("n_test")).sum
    val holdout = Tables.embeddings(spark, TestSpark.sf)
      .filter(col("vec_id") % 10 === 0 &&
        col("vec_id") < graft.operators.Ann.EvalIdCap).count()
    assert(nTest == holdout, s"classified $nTest of $holdout held-out vectors")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_correct") >= 0 &&
        r.getAs[Long]("n_correct") <= r.getAs[Long]("n_test"))
    }
    val again = run("v26_knn_classify").collect()
    assert(rows.map(_.toString).sorted.sameElements(again.map(_.toString).sorted),
      "vote must be deterministic run-to-run")
  }

  test("d19 chunk dedup is complete against doc-level duplicates") {
    // Two identical documents chunk identically, so EVERY chunk hash of
    // an exact-dup doc group must surface in d19 with n_occurrences ≥ 2
    // — completeness of the chunk-level audit against the doc-level
    // ground truth d01 already establishes.
    import spark.implicits._
    val docs = Tables.documents(spark, TestSpark.sf)
    val dupDocs = docs.groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("g"), min(col("doc_id")).as("doc_id"))
      .filter(col("g") >= 2)
    if (dupDocs.count() > 0) {
      // sf0.01+ plants exact-dup docs; sf0.001's 50-doc slice may not.
      val dupChunkHashes = operators.Chunking
        .chunked(docs.join(dupDocs.select("doc_id"), "doc_id"))
        .select("chunk_hash").distinct()
      val reported = run("d19_chunk_dedup").select("chunk_hash")
      val missing = dupChunkHashes.except(reported).count()
      assert(missing == 0, s"$missing dup-doc chunk hashes missing from d19")
    }
    // The reported set must equal an independent regrouping of the
    // shared chunk stream (aggregation/threshold logic, hash-exact).
    val expected = operators.Chunking.chunked(docs)
      .groupBy("chunk_hash").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).count()
    assert(run("d19_chunk_dedup").count() == expected)
    // Sanity on the counters: occurrences bound docs.
    assert(run("d19_chunk_dedup")
      .filter(col("n_docs") > col("n_occurrences") || col("n_occurrences") < 2)
      .count() == 0)
  }

  test("v28 k-means partitions the corpus; Lloyd updates don't lower the objective") {
    val rows = run("v28_kmeans").collect()
    val n = Tables.embeddings(spark, TestSpark.sf).count()
    assert(rows.map(_.getAs[Long]("n_vecs")).sum == n,
      "every vector must land in exactly one cluster")
    rows.foreach { r =>
      val c = r.getAs[Long]("cluster")
      assert(c >= 0 && c < 8)
      assert(r.getAs[Double]("min_sim") <= r.getAs[Double]("max_sim"))
      assert(r.getAs[Double]("max_sim") <= 1.000001 &&
        r.getAs[Double]("min_sim") >= -1.000001)
    }
    // Weighted objective (mean assigned cosine) after two Lloyd updates
    // vs the raw seed assignment. The un-normalized mean update is not
    // the exact cosine-objective maximizer when vector norms vary, so
    // allow a small tolerance — but a sign/argmax wiring bug would
    // CRATER this, not shave it.
    def obj(rs: Array[org.apache.spark.sql.Row]): Double =
      rs.map(r => r.getAs[Long]("n_vecs") * r.getAs[Double]("mean_sim")).sum / n
    val it0 = operators.Ann.kmeansIters(spark, TestSpark.sf, iters = 0).collect()
    assert(obj(rows) >= obj(it0) - 1e-3,
      s"objective fell: seed=${obj(it0)} after-2-updates=${obj(rows)}")
    val again = run("v28_kmeans").collect()
    assert(rows.map(_.toString).sorted.sameElements(again.map(_.toString).sorted),
      "k-means must be deterministic run-to-run")
  }

  test("d23 winnowing guarantee: pairs sharing a 7-token run share a fingerprint") {
    // The paper's guarantee, machine-checked on real data: any two docs
    // sharing a contiguous run of ≥ k+w−1 = 7 tokens must share at least
    // one SELECTED fingerprint (pre-cap, pre-threshold). The 7-gram
    // truth is derived independently of the selection code.
    val docs = Tables.documents(spark, TestSpark.sf)
    val g7 = docs.select(col("doc_id"), explode(expr(
        """flatten(transform(array(split(text, ' ')), w ->
          |  CASE WHEN size(w) >= 7
          |    THEN transform(sequence(1, size(w) - 6),
          |           i -> md5(concat_ws(' ', slice(w, i, 7))))
          |    ELSE array() END))""".stripMargin)).as("h")).distinct()
    val runPairs = g7.as("a").join(g7.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(runPairs.nonEmpty, "fixture must contain shared 7-token runs")
    val fp = operators.Dedup.winnowSelect(docs)
      .select(col("doc_id"), explode(col("fps")).as("fp"))
    val fpPairs = fp.as("a").join(fp.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = runPairs -- fpPairs
    assert(missed.isEmpty, s"winnowing guarantee violated for: ${missed.take(5)}")
  }

  test("d23 selection is sparse and the overlap report is internally consistent") {
    // Winnowing keeps an expected ~2/(w+1) = 0.4 of the gram stream;
    // assert the per-corpus selected fraction lands in a generous band
    // (a selection bug that keeps everything, or window-min gone wrong
    // keeping one per doc, both fall outside it on 40+-gram docs).
    val docs = Tables.documents(spark, TestSpark.sf)
    val stats = operators.Dedup.winnowSelect(docs)
      .join(docs.select(col("doc_id"),
        greatest(size(split(col("text"), " ")) - 3, lit(1)).as("m")), "doc_id")
      .filter(col("m") >= 40)
      .agg(sum(size(col("fps"))).cast("double").as("sel"), sum(col("m")).cast("double").as("grams"))
      .head()
    val frac = stats.getAs[Double]("sel") / stats.getAs[Double]("grams")
    assert(frac > 0.15 && frac < 0.55, s"selected fraction $frac outside winnowing band")
    val rep = run("d23_winnowing").collect()
    assert(rep.nonEmpty, "planted exact dups must surface as overlap pairs")
    rep.foreach { r =>
      val (c, na, nb) = (r.getAs[Long]("n_shared"), r.getAs[Long]("n_a"), r.getAs[Long]("n_b"))
      assert(c <= math.min(na, nb) && c * 3 >= na + nb)
      val ov = r.getAs[Double]("overlap")
      assert(ov >= 0.5 - 1e-12 && ov <= 1.0)
    }
  }

  test("t36 gopher rules discriminate and the keep bit is the exact conjunction") {
    val rules = run("t36_gopher_rules")
    val n = rules.count()
    assert(n == Tables.documents(spark, TestSpark.sf).count(), "one row per doc")
    // keep must equal the AND of the five flags on every row.
    assert(rules.filter(col("keep") =!=
      (col("r_wordcount") && col("r_meanwl") && col("r_symbol") &&
        col("r_alpha") && col("r_stop"))).count() == 0)
    // The gate must actually GATE on this corpus: the word-count and
    // stop-word rules each fail somewhere, and the conjunction sits
    // strictly between 0 and 1 (an all-pass or all-fail rule set means
    // the thresholds are mis-calibrated and the oracle proves nothing).
    assert(rules.filter(!col("r_wordcount")).count() > 0)
    assert(rules.filter(!col("r_stop")).count() > 0)
    val kept = rules.filter(col("keep")).count()
    assert(kept > 0 && kept < n, s"degenerate keep rate $kept/$n")
    // Flag↔feature consistency spot: r_stop ⇔ n_stop >= 2.
    assert(rules.filter(col("r_stop") =!= (col("n_stop") >= 2)).count() == 0)
  }

  test("p19 DSIR weights separate target-like docs and stay deterministic") {
    val w1 = run("p19_dsir_weights")
    // The whole point of the importance weight: documents FROM the
    // target slice (lang='en') must average a higher log-ratio than
    // documents outside it — if they don't, the model learned nothing
    // and the operator is mis-wired.
    val byLang = w1.join(
        Tables.documents(spark, TestSpark.sf).select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang") === "en")
      .agg(avg(col("logw")).as("m"))
      .collect().map(r => r.getBoolean(0) -> r.getAs[Double]("m")).toMap
    assert(byLang(true) > byLang(false),
      s"en mean ${byLang(true)} must exceed non-en ${byLang(false)}")
    // n_grams is exactly 2·nw − 1 (unigrams + bigrams) for nw ≥ 2, 1 for nw = 1.
    val nw = Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("nw"))
    assert(w1.join(nw, "doc_id")
      .filter(col("n_grams") =!=
        when(col("nw") >= 2, col("nw") * 2 - 1).otherwise(1L)).count() == 0)
    // Model re-derivation is deterministic: a second build bit-matches.
    val w2 = run("p19_dsir_weights")
    assert(w1.exceptAll(w2).count() == 0 && w2.exceptAll(w1).count() == 0)
  }

  test("p20 SPFHP packing: exact cover, capacity respected, beats one-doc packs") {
    val a = run("p20_histogram_packing")
    val docs = Tables.documents(spark, TestSpark.sf)
    val n = docs.count()
    // Exact cover: one row per doc, no doc in two slots.
    assert(a.count() == n && a.select("doc_id").distinct().count() == n)
    // No two docs share a (pack_id, slot_idx) slot.
    assert(a.groupBy("pack_id", "slot_idx").count().filter(col("count") > 1).count() == 0)
    // Per-pack fill: the docs actually assigned to a pack sum to its
    // pattern's declared fill, and never exceed L=128.
    val perPack = a.groupBy("pack_id").agg(
      sum(col("n_tokens")).as("fill"), first(col("pack_fill")).as("declared"),
      count(lit(1)).as("slots"), first(col("n_slots")).as("declared_slots"))
    assert(perPack.filter(col("fill") =!= col("declared") || col("fill") > 128).count() == 0)
    assert(perPack.filter(col("slots") =!= col("declared_slots")).count() == 0)
    // Packing must actually pack: strictly fewer packs than docs, and
    // padding strictly better than the one-doc-per-pack baseline.
    val packs = a.select("pack_id").distinct().count()
    assert(packs < n, s"$packs packs for $n docs — nothing packed")
    val tok = a.agg(sum(col("n_tokens"))).head().getLong(0)
    val waste = 128.0 * packs - tok
    val naive = 128.0 * n - tok
    assert(waste < naive / 2, f"padding $waste%.0f not < half of naive $naive%.0f")
    // Deterministic: a rebuild bit-matches.
    val b = run("p20_histogram_packing")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("p20 SPFHP solver invariants hold on adversarial histograms") {
    val L = 128
    val hists = Seq(
      Map(128 -> 10L),                       // exact-fit only
      Map(1 -> 1000L),                       // tiny docs, deep packs
      Map(127 -> 5L, 1 -> 5L),               // perfect complements
      Map(65 -> 100L),                       // >L/2: can never pair
      (10 to 100).map(l => l -> (l % 7 + 1).toLong).toMap)
    for (h <- hists) {
      val pats = graft.operators.Pipeline.spfhp(h, L)
      // capacity respected
      assert(pats.forall(_._1.sum <= L), s"overfull pack for $h")
      // exact cover is require()d inside; >L/2 lengths get 1 slot per pack
      if (h.keySet == Set(65)) assert(pats.forall(_._1 == List(65)))
      // same-length docs DO pack together: 1000 one-token docs give
      // 128-deep packs, not 1000 singletons.
      if (h == Map(1 -> 1000L)) {
        assert(pats.exists(_._1.length == 128))
        assert(pats.map(_._2).sum == 8, s"1000/128 → 8 packs, got $pats")
      }
      // allocation unrolls consistently: per-length interval counts
      // cover the histogram exactly
      val alloc = graft.operators.Pipeline.spfhpAlloc(h, L)
      val byLen = alloc.groupBy(_._1).map { case (l, g) => l -> g.map(_._5).sum }
      assert(byLen == h, s"allocation cover mismatch for $h")
      // rank intervals are disjoint and contiguous from 0 per length
      for ((l, g) <- alloc.groupBy(_._1)) {
        val iv = g.map(r => (r._4, r._4 + r._5)).sortBy(_._1)
        assert(iv.head._1 == 0L && iv.sliding(2).forall {
          case Seq((_, e), (s2, _)) => e == s2
          case _ => true
        }, s"rank gaps for len $l in $h")
      }
    }
  }

  test("v29 balanced sample: quota flattens clusters, every vector accounted") {
    val a = run("v29_balanced_sample")
    val nVecs = Tables.embeddings(spark, TestSpark.sf)
      .filter(col("vec_id") >= 8).count()
    // Every non-seed vector gets exactly one row.
    assert(a.count() == nVecs && a.select("vec_id").distinct().count() == nVecs)
    val q = (((nVecs + 3) / 4) + 7) / 8
    // Per cluster: kept = min(quota, cluster size), and the kept set is
    // exactly the lowest-rank prefix (rank < q ⇔ kept).
    assert(a.filter(col("kept") =!= (col("rk") < q)).count() == 0)
    val per = a.groupBy("cluster").agg(
      count(lit(1)).as("n"), sum(when(col("kept"), 1L).otherwise(0L)).as("k"))
      .collect()
    assert(per.forall(r => r.getAs[Long]("k") == math.min(q, r.getAs[Long]("n"))))
    // The sample must actually flatten: no cluster exceeds the quota,
    // so the kept distribution's max/min ratio is bounded by q/(smallest
    // full cluster) — in particular strictly tighter than the raw one
    // whenever clusters are skewed.
    val raw = per.map(_.getAs[Long]("n"))
    val kept = per.map(_.getAs[Long]("k"))
    assert(kept.max <= q)
    assert(kept.sum <= (nVecs + 3) / 4 + 8, "total stays near the 25% target")
    // Ranks are a within-cluster permutation: 0..n-1 per cluster.
    val rkOk = a.groupBy("cluster").agg(
      min(col("rk")).as("lo"), max(col("rk")).as("hi"), count(lit(1)).as("n"))
      .filter(col("lo") =!= 0L || col("hi") =!= col("n") - 1)
    assert(rkOk.count() == 0, "split rank must be a contiguous 0-based permutation")
    assert(raw.max >= kept.max, "flattening never amplifies a cluster")
  }

  test("v30 MRL curve: exact 1.0 endpoint at full dim, bounded hits") {
    val c = run("v30_mrl_recall").collect().map(r =>
      r.getAs[Long]("dim") -> r.getAs[Long]("hits")).toMap
    assert(c.keySet == Set(8L, 16L, 32L, 64L))
    // Full-dim truncation IS the truth: recall must be exactly 1.
    assert(c(64L) == 10L, s"full-dim recall endpoint broken: ${c(64L)}")
    assert(c.values.forall(h => h >= 0 && h <= 10))
  }

  test("d24 report covers the full benchmark x source grid with sane rates") {
    val r = run("d24_decontam_report")
    val srcs = Tables.documents(spark, TestSpark.sf)
      .filter(!(col("doc_id") % 100).between(1, 3))
      .select("source").distinct().count()
    // Zero-contamination cells must exist as rows, not be missing.
    assert(r.count() == 3 * srcs, s"grid incomplete: ${r.count()} vs ${3 * srcs}")
    assert(r.groupBy("benchmark").count().count() == 3)
    // Rates are exact ratios in [0, 1]; flagged never exceeds the pool.
    assert(r.filter(col("n_contaminated") > col("n_docs") ||
      col("contam_rate") < 0 || col("contam_rate") > 1).count() == 0)
    // Discrimination is pinned by the sf0.01 DuckDB oracle (1
    // contaminated doc, 89 shared grams there); THIS corpus (sf0.001)
    // legitimately reports all-clean, and the point of the grid join is
    // that all-clean still shows as 60 explicit zero rows (asserted
    // above), never as missing rows. Benchmark docs are excluded from
    // every denominator:
    val nonBench = Tables.documents(spark, TestSpark.sf)
      .filter(!(col("doc_id") % 100).between(1, 3)).count()
    val pool = r.select("source", "n_docs").distinct()
      .agg(sum(col("n_docs"))).head().getLong(0)
    assert(pool == nonBench, "denominators must exclude benchmark docs")
  }

  test("q81 sketch accuracy: every GK rank bound holds, accuracy dial works") {
    val rows = run("q81_approx_quantiles").collect()
    assert(rows.length == 9, "3 accuracies x 3 percentiles")
    // The GK contract must hold on every cell (also DuckDB-verified).
    assert(rows.forall(_.getAs[Boolean]("within_bound")))
    // The dial is real: the worst absolute rank error at accuracy 10000
    // is strictly smaller than at accuracy 100.
    def worstRankErr(acc: Long) = rows.filter(_.getAs[Long]("accuracy") == acc)
      .map(r => math.abs(r.getAs[Long]("rk").toDouble -
        r.getAs[Double]("p") * r.getAs[Long]("n"))).max
    assert(worstRankErr(10000L) < worstRankErr(100L),
      s"accuracy dial inert: ${worstRankErr(10000L)} !< ${worstRankErr(100L)}")
    // Approx values live inside the data's range (sanity on the export).
    assert(rows.forall { r =>
      val a = r.getAs[Double]("approx"); a > 0 && a.isFinite
    })
  }

  test("v27 margin audit accounts for every vector with bounded margins") {
    val rows = run("v27_label_margin").collect()
    val nVecs = rows.map(_.getAs[Long]("n_vecs")).sum
    assert(nVecs == Tables.embeddings(spark, TestSpark.sf).count())
    rows.foreach { r =>
      assert(r.getAs[Long]("n_consistent") <= r.getAs[Long]("n_vecs"))
      val m = r.getAs[Double]("mean_margin")
      assert(m >= -2.0 && m <= 2.0, s"cosine margin out of range: $m")
    }
  }

  test("TPC-H battery: structural invariants hold on every query") {
    // q82/q88: capped topk, strictly ordered by the rounded revenue.
    for ((n, cap) <- Seq(("q82_tpch_q3", 10), ("q88_tpch_q10", 20))) {
      val r = run(n).collect()
      assert(r.length <= cap, s"$n over its limit")
      val rev = r.map(_.getAs[Double]("revenue"))
      assert(rev.sameElements(rev.sortBy(-_)), s"$n not revenue-descending")
      assert(rev.forall(_ > 0), s"$n nonpositive revenue")
    }
    // q83: only the two declared nation pairs may appear.
    run("q83_tpch_q7").collect().foreach { r =>
      val pair = (r.getAs[String]("supp_nation"), r.getAs[String]("cust_nation"))
      assert(pair == ("NATION_3", "NATION_7") || pair == ("NATION_7", "NATION_3"))
      assert(r.getAs[Long]("l_year") >= 1996 && r.getAs[Long]("l_year") <= 1997)
    }
    // q85: every surviving order's quantity exceeds the HAVING bound —
    // the grouped sum IS the per-order sum, so the semi join is
    // self-certifying.
    val q18 = run("q85_tpch_q18").collect()
    assert(q18.forall(_.getAs[Double]("sum_qty") > 300), "q85 let a small order through")
    // q86: counts are positive and descending under the declared order.
    val q21 = run("q86_tpch_q21").collect()
    val nw = q21.map(_.getAs[Long]("numwait"))
    assert(nw.forall(_ >= 1) && nw.sameElements(nw.sortBy(-_)))
    // q87: a share is a share.
    run("q87_tpch_q8").collect().foreach { r =>
      val sh = r.getAs[Double]("mkt_share")
      assert(sh >= 0.0 && sh <= 1.0, s"mkt_share out of [0,1]: $sh")
    }
  }

  test("d25 planted spans come back at exact length — no grid truncation, no over-chaining") {
    import spark.implicits._
    def words(prefix: String, n: Int) = (1 to n).map(i => s"$prefix$i").mkString(" ")
    val span37 = (1 to 37).map(i => s"planted$i").mkString(" ")
    val span8 = (1 to 8).map(i => s"minor$i").mkString(" ")
    val docs = Seq(
      (1L, s"${words("fillera", 20)} $span37 ${words("fillerb", 20)}"),
      (2L, s"${words("fillerc", 11)} $span37 ${words("fillerd", 5)} $span8"),
      (3L, s"$span37 ${words("fillere", 30)} $span8")
    ).toDF("doc_id", "text")
    val rows = graft.operators.Dedup.longestDupSpans(docs).collect()
    // Three pairwise occurrences of the 37-word span, each measured
    // EXACTLY (the 5-gram grid alone could only certify ≥5).
    assert(rows.take(3).forall(r => r.getAs[Long]("span_len") == 37 &&
      r.getAs[String]("span_text") == span37), rows.take(3).mkString("\n"))
    // Nothing chains beyond the plant: consecutive duplicated grams
    // with DIFFERENT partners must not merge.
    assert(rows.forall(_.getAs[Long]("span_len") <= 37), "over-chaining")
    // The 8-word minor span reports 8, not a 5-word grid artifact.
    assert(rows.exists(r => r.getAs[Long]("span_len") == 8 &&
      r.getAs[String]("span_text") == span8), "minor span truncated or lost")
    // Both location columns are real word offsets.
    val r13 = rows.find(r => r.getAs[Long]("doc_a") == 1L &&
      r.getAs[Long]("doc_b") == 3L).get
    assert(r13.getAs[Long]("pos_a") == 20 && r13.getAs[Long]("pos_b") == 0)
  }
}
