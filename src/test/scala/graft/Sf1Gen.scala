package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** sf1.0 gate corpus: a referentially consistent 10× upscale of the
  * driver's sf0.1 tables, written to /tmp/graft_sf1.0 (the driver's
  * testdata tree is read-only). Each replica shifts every key family
  * by a disjoint stride, so all FK joins stay replica-local and dense:
  * lineitem r ⋈ orders r ⋈ customer r, part/supplier likewise; nation
  * and region stay the global 25/5-row dims. Documents keep replica 0
  * verbatim (literal-filter operators — t30's KWIC word, t13's query
  * terms, langid markers — keep a live corpus) while replicas 1–9 get
  * replica-disjoint vocabulary (the ScaleSmokeMain growth model: gram
  * spaces never collide, so duplicate structure replicates instead of
  * inflating ×10). Events replicate with id shifts and UNCHANGED type
  * domain (the literal 'purchase'/'touch' funnels stay live; per-type
  * density ×10). Embeddings rotate each vector by its replica id —
  * distinct geometry per replica, same norm distribution. Key strides
  * are multiples of 100 so the house id-mod disciplines (d24's
  * doc_id%100 benchmark tag, v26's vec_id%10 holdout) scale with the
  * corpus instead of breaking.
  * Run: sbt "Test/runMain graft.Sf1Gen [rep] [outDir]"  (default 10,
  * /tmp/graft_sf1.0 — rep=20 + an outDir gives the sf2.0 doubling-leg
  * corpus, same growth model, all strides replica-disjoint by
  * construction).
  */
object Sf1Gen {
  /** Replica stride for the doc_id / vec_id / event_id key families
    * (and ScaleSmokeMain's doc_id / user_id) — ONE constant shared with
    * ScaleSmokeMain's generator and its replica-boundary pair split, so
    * the split's `id / stride` replica classifier can never silently
    * drift from the strides the corpora were built with. (Sf1Gen's
    * events user_id uses the customer-family stride 100000L — pair
    * outputs over THAT family don't flow through the smoke split.) */
  val IdStride = 1000000L

  /** Planted structurally-equivalent user pairs (r12, verdict item 1):
    * the replica growth models produce user-DISJOINT interaction graphs
    * whose neighbor-Jaccard never reaches 0.5, so g09's scale-gate value
    * verdict was comparing EMPTY sets (vacuously green — the one such
    * compare on the board). This plants, per replica, two isolated
    * event streams under fresh event types (the d25 planted-span
    * discipline applied to graphs):
    *
    *   group A (16 events): X n1 X n2 X n3 X n4 Y n1 Y n2 Y n3 Y n4
    *     → N(X) = N(Y) = {n1..n4} (the n4—Y stream boundary closes Y's
    *     set), N(ni) = {X, Y} — pairs (X,Y) jac 1.0 and the 6 (ni,nj)
    *     pairs jac 1.0: 7 qualifying rows.
    *   group B (16 events): X n1 X n2 X n3 X n4 Y n1 Y n2 Y n3 Y n5
    *     → N(X) = {n1..n4}, N(Y) = {n1..n4, n5}, N(n1..n4) = {X, Y},
    *     N(n5) = {Y} — (X,Y) jac 4/5 = 0.8, 6 (ni,nj) pairs 1.0, and
    *     the 4 (ni, n5) pairs EXACTLY at the τ = 0.5 threshold (1/2 —
    *     exactly representable, grid-stable in both engines): 11 rows.
    *
    * 18 qualifying pairs per replica — nonzero, replica-linear
    * (rows_same_rep 2.000×/octave), spanning jac ∈ {0.5, 0.8, 1.0}
    * including both threshold-boundary and below-threshold (X,ni inter
    * = 0) structure. Consecutive planted events are 400 s apart — ABOVE
    * the 300 s / 10 s proximity windows, so the planted users enter the
    * interaction graph (g01/g02/g09's base) but stay OUT of every
    * proximity-graph operator (g03/g10/g12/g14), perturbing the planted
    * corpora minimally. Fresh per-(replica, group) event types keep the
    * streams isolated from real events and from each other; planted
    * user ids live at userPlantBase (far above the real user domain)
    * and planted event ids in [500M, 500M + reps*1000) — DISJOINT from
    * every replica-shifted real id range in both generators, though by
    * two different arguments (r12 advice: the old "above every real id"
    * claim was false for ScaleSmoke replicas ≥ 1): under Sf1Gen's
    * rep*IdStride (1e6) shift every real id stays below ~reps*1e6+100k
    * ≪ 500M, so the planted block sits above them all; under
    * ScaleSmoke's rep*1e9 shift the planted block lands in the gap
    * between replica 0's reals (< 100k) and replica 1's (≥ 1e9).
    *
    * Returns (event_id, ts_us, user_id, event_type, value, props) — the
    * caller converts ts_us to its corpus's ts type and unions by name.
    */
  def plantedJaccardEvents(
      spark: SparkSession, reps: Int, userStride: Long, userPlantBase: Long,
      tsBaseUs: Int => Long): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val gapUs = 400L * 1000000L // > every proximity window in the family
    val rows = (0 until reps).flatMap { r =>
      def u(k: Int): Long = r * userStride + userPlantBase + k
      // user-slot sequences; slots 0-5 = group A, 6-12 = group B
      val groupA = Seq(0, 2, 0, 3, 0, 4, 0, 5, 1, 2, 1, 3, 1, 4, 1, 5)
      val groupB = Seq(6, 8, 6, 9, 6, 10, 6, 11, 7, 8, 7, 9, 7, 10, 7, 12)
      val stream = groupA.map(("jplant_a_" + r, _)) ++
        groupB.map(("jplant_b_" + r, _))
      stream.zipWithIndex.map { case ((typ, slot), i) =>
        (500000000L + r * 1000L + i,         // event_id
          tsBaseUs(r) + i.toLong * gapUs,    // ts_us
          u(slot), typ,
          1.0 + (i % 7),                     // value: deterministic
          s"""{"k": ${i % 100}}""")          // props: the house JSON shape
      }
    }
    rows.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
  }

  def main(args: Array[String]): Unit = {
    val rep = args.headOption.map(_.toInt).getOrElse(10)
    val src = "/root/testdata/sf0.1"
    val out = args.drop(1).headOption.getOrElse("/tmp/graft_sf1.0")
    val spark = GraftSession.builder("sf1-gen", 16)
      .config("spark.sql.shuffle.partitions", "32")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val reps = spark.range(rep).select(col("id").cast("long").as("rep"))
    def t(name: String) = spark.read.parquet(s"$src/$name.parquet")
    // 32 files per table (one row group each): a one-file corpus caps
    // SCAN parallelism at 1 task however many cores the gate has —
    // measured: m04/m06/p08's per-doc kernels ran single-threaded at
    // sf1.0 (8-9 s each) because documents.parquet was one 6 MB file.
    // A real 100 TB corpus is millions of files; the gate corpus should
    // split like one. (Pair with spark.sql.files.maxPartitionBytes=4m
    // in the measuring session so file packing doesn't re-merge them.)
    def w(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      df.repartition(32).write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[sf1gen] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }

    // Global dims: unchanged.
    w(t("region"), "region")
    w(t("nation"), "nation")

    val OK = 1000000L; val CK = 100000L; val PK = 100000L; val SK = 10000L
    w(t("customer").crossJoin(reps)
      .withColumn("c_custkey", col("c_custkey") + col("rep") * CK)
      .drop("rep"), "customer")
    w(t("supplier").crossJoin(reps)
      .withColumn("s_suppkey", col("s_suppkey") + col("rep") * SK)
      .drop("rep"), "supplier")
    w(t("part").crossJoin(reps)
      .withColumn("p_partkey", col("p_partkey") + col("rep") * PK)
      .drop("rep"), "part")
    w(t("orders").crossJoin(reps)
      .withColumn("o_orderkey", col("o_orderkey") + col("rep") * OK)
      .withColumn("o_custkey", col("o_custkey") + col("rep") * CK)
      .drop("rep"), "orders")
    w(t("lineitem").crossJoin(reps)
      .withColumn("l_orderkey", col("l_orderkey") + col("rep") * OK)
      .withColumn("l_partkey", col("l_partkey") + col("rep") * PK)
      .withColumn("l_suppkey", col("l_suppkey") + col("rep") * SK)
      .drop("rep"), "lineitem")

    // Each replica's TIMESTAMPS shift by the whole-day-rounded corpus
    // span (round-9 fix): with unchanged ts the 10 replicas INTERLEAVE
    // inside every per-type event stream, and consecutive-actor edge
    // construction (Graph.interactionEdges) wires users ACROSS replicas
    // — the sf1.0 interaction graph degenerated to 111k edges and ZERO
    // triangles (vs 10 × sf0.1's 95k/352k), so the graph family was
    // stress-testing a trivial graph. Day-rounding keeps hour-of-day /
    // seasonality structure identical per replica; the growth model
    // becomes "10× more history at the same density" and per-type
    // streams replicate replica-locally (one spurious boundary edge
    // per type per replica — noise).
    val evSrc = t("events")
    // ts reads as LONG nanos (TIMESTAMP(NANOS) under nanosAsLong) or as
    // a native TIMESTAMP, depending on how the driver generated the
    // tree — handle both, like Tables.events does.
    val tsIsLong =
      evSrc.schema("ts").dataType == org.apache.spark.sql.types.LongType
    val tsUs = if (tsIsLong) expr("ts div 1000") else unix_micros(col("ts"))
    val (minTsUs, spanDaysUs) = {
      val r = evSrc.select(max(tsUs), min(tsUs)).head()
      (r.getLong(1),
        ((r.getLong(0) - r.getLong(1)) / 86400000000L + 1) * 86400000000L)
    }
    val shifted = tsUs + col("rep") * spanDaysUs
    // Long (nanos) path shifts in NANOS (round-9 advice fix): the old
    // (ts div 1000)*1000 + shift form quantized even replica 0 to micros,
    // so the corpus was no longer bit-identical to the source at nano
    // precision. Tables.events reads at micro precision today, but the
    // corpus invariant is "replica 0 IS the source".
    // Planted g09 pairs (see [[plantedJaccardEvents]]): one hour into
    // each replica's day-rounded time block, user ids at the 90000 slot
    // of the replica's 100000-stride user band — inside the replica's id
    // band, far above the real user domain.
    val planted = plantedJaccardEvents(spark, rep, 100000L, 90000L,
        r => minTsUs + r * spanDaysUs + 3600L * 1000000L)
      .withColumn("ts",
        if (tsIsLong) col("ts_us") * 1000L else timestamp_micros(col("ts_us")))
      .drop("ts_us")
    w(evSrc.crossJoin(reps)
      .withColumn("event_id", col("event_id") + col("rep") * IdStride)
      .withColumn("user_id", col("user_id") + col("rep") * 100000L)
      .withColumn("ts",
        if (tsIsLong) col("ts") + col("rep") * spanDaysUs * 1000L
        else timestamp_micros(shifted))
      .drop("rep")
      .unionByName(planted), "events")

    // n_chars is RECOMPUTED from the transformed text (round-9 advice
    // fix): replicas 1–9 prefix every word (+2 chars/word), and carrying
    // the source row's n_chars broke the corpus invariant
    // n_chars = length(text) that d11's |Δn_chars| ≤ k length-band
    // prune and d15's segment lengths both treat as lossless.
    w(t("documents").crossJoin(reps)
      .select(
        (col("doc_id") + col("rep") * IdStride).as("doc_id"),
        when(col("rep") === 0, col("text"))
          .otherwise(array_join(transform(split(col("text"), " "),
            wd => concat(col("rep").cast("string"), lit("x"), wd)), " "))
          .as("text"),
        col("lang"),
        when(col("rep") === 0, col("source"))
          .otherwise(concat(col("rep").cast("string"), lit("x"), col("source")))
          .as("source"))
      .withColumn("n_chars", length(col("text")).cast(t("documents")
        .schema("n_chars").dataType)), "documents")

    // Rotation alone is NOT enough: rot_r(v)·rot_s(v) depends only on
    // (v, r−s), so one near-threshold cosine value repeats across ~45
    // replica pairs and a last-ulp engine difference flips them all at
    // once (caught live: d05 off by 18 rows at the first sf1.0
    // compare). A deterministic per-(vec, rep, dim) jitter breaks the
    // value repetition so boundary coincidences stay isolated
    // single-pair events with ~1e-9 probability.
    w(t("embeddings").crossJoin(reps)
      .select(
        (col("vec_id") + col("rep") * IdStride).as("vec_id"),
        transform(sequence(lit(0), size(col("embedding")) - 1),
          i => element_at(col("embedding"),
            (pmod(i + col("rep"), size(col("embedding"))) + 1).cast("int"))
            + when(col("rep") === 0, lit(0.0)).otherwise(
              (pmod(xxhash64(col("vec_id"), col("rep"), i), lit(2001L)) - 1000L)
                .cast("double") / 1000000.0))
          .cast("array<float>").as("embedding"),
        col("label")), "embeddings")

    spark.stop()
  }
}
