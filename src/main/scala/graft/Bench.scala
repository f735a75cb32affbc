package graft

import scala.util.Try
import scala.util.control.NonFatal
import scala.util.matching.Regex

/** Benchmark main: one JSON line with per-query seconds at
  * SPARK_GRAFT_SF_DIR. A warmup pass at sf0.001 first runs every query,
  * so the timed pass starts with JIT-compiled code and with every plan
  * shape's generated classes in Spark's codegen cache, which graft sizes
  * to hold all 254 queries' classes (`CodegenCache`). The full line also
  * carries `codegen_compilations`, each query's count of classes compiled
  * during its timed reps (the compact tail line carries their sum). */
object Bench {
  /** SPARK_GRAFT_CPUS as a positive core count (default 32). Any other
    * value fails naming the variable: it sizes the session, and it names
    * the per-core `bench_full_c<cpus>.json` table. */
  def cpusFromEnv(): Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def parseCpus(raw: Option[String]): Int =
    positiveInt("SPARK_GRAFT_CPUS", raw, 32)

  /** The value of env variable `name` as a positive integer, `default`
    * when unset; any other value fails naming the variable. */
  private[graft] def positiveInt(name: String, raw: Option[String], default: Int): Int =
    parsed(name, raw, "a positive integer")(v => Try(v.trim.toInt).filter(_ > 0))
      .getOrElse(default)

  /** SPARK_GRAFT_BENCH_FILTER as the regex that picks queries by name,
    * None when unset; a pattern that does not compile fails naming the
    * variable. */
  private[graft] def filterRegex(raw: Option[String]): Option[Regex] =
    parsed("SPARK_GRAFT_BENCH_FILTER", raw, "a regular expression")(v => Try(v.r))

  /** Env variable `name`'s value parsed by `parse`; a value it rejects
    * fails naming the variable, with the parse error as the cause. */
  private def parsed[T](name: String, raw: Option[String], what: String)(
      parse: String => Try[T]): Option[T] =
    raw.map(v => parse(v).fold(
      e => throw new IllegalArgumentException(s"$name='$v' must be $what", e), identity))

  /** Runs `f`, labelled `what` (a query name, or the pass it is in). A
    * non-fatal failure goes to stderr and gives None, so the run goes on
    * and reports the query; a JVM error ends the run, naming `what`. */
  private[graft] def attempt[T](what: String)(f: => T): Option[T] =
    try Some(f) catch {
      case NonFatal(e) =>
        System.err.println(s"[bench] $what failed: ${e.getClass.getName}: " +
          s"${String.valueOf(e.getMessage).take(300)}")
        None
      case e: Throwable =>
        System.err.println(s"[bench] $what: fatal ${e.getClass.getName}, ending the run")
        throw e
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = cpusFromEnv()
    // SPARK_GRAFT_SHUFFLE_PARTITIONS overrides the per-core default for
    // scale-attribution legs: does a superlinear octave row linearize
    // when partitions scale with the corpus, the way a real cluster
    // would scale them? (BASELINE.md "Round 11: Bench integrity".)
    val partitions = positiveInt("SPARK_GRAFT_SHUFFLE_PARTITIONS",
      sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS"), cpus)
    // Three timed reps, report min: same query, same plan — min is the
    // machine-noise-robust steady-state capability (the first rep also
    // absorbs the cold file-cache read of the target SF).
    // SPARK_GRAFT_BENCH_REPS overrides for big-SF one-pass sweeps where
    // 3× the surface doesn't fit a session (the durable-minima protocol
    // then merges several single-rep runs instead).
    // A value that is not a positive integer stops the run before the
    // session starts, naming the variable.
    val reps = positiveInt("SPARK_GRAFT_BENCH_REPS", sys.env.get("SPARK_GRAFT_BENCH_REPS"), 3)
    // Optional subset (regex on query name) for controlled A/B runs —
    // e.g. SPARK_GRAFT_BENCH_FILTER='^(s0[1-9]|t0[1-9]|t1[0-6])' replays
    // exactly the block a drift was observed on.
    val filter = filterRegex(sys.env.get("SPARK_GRAFT_BENCH_FILTER"))
    val spark = GraftSession.builder("graft-bench", cpus)
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Deterministic name-sorted order for BOTH the warm-up and the timed
    // pass: JIT/codegen warm-up and page-cache state then hit every query
    // identically run-to-run, so per-query numbers are comparable across
    // rounds (the r2 driver run had a 7.9x one-off on whichever query ran
    // cold first).
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => filter.forall(_.findFirstIn(n).isDefined) }
    val warmDir = "/root/testdata/sf0.001"
    // A warm-up failure is not fatal (the timed pass reports the query on
    // its own), but it is never silent: stderr, plus "warm_failed" in both
    // JSON lines — a query that throws at sf0.001 reaches its timed reps
    // with cold JIT/codegen caches, which taints its number.
    val warmFailed = ordered.collect {
      case (name, fn) if attempt(s"warm-up $name")(fn(spark, warmDir).count()).isEmpty => name
    }
    // Calibration probes (r12, verdict item 2): two fixed synthetic jobs —
    // one CPU/codegen-bound (wide range + arithmetic, no I/O), one
    // shuffle-bound (groupBy over a synthetic key) — run before and after
    // the timed pass and recorded in the JSON. Box-context drift between
    // rounds ("the box ran hot") then becomes a NUMBER: compare this
    // round's probe_pre/probe_post to last round's before reading any
    // total-to-total delta. Corpus-independent on purpose (spark.range, no
    // parquet) so the probe measures the BOX, not the dataset.
    // r14 (verdict item 3): a SINGLE probe point's leg-to-leg variance
    // (shuffle 0.32–0.46 across pinned r12/r13 legs) is wider than the
    // effects probe-normalization adjudicates, so one number per side
    // lets "raw 0.96x" and "norm 1.13x" both be quoted from one table.
    // Every individual probe time is therefore recorded: min-of-3 at
    // pre and post (unchanged semantics — comparable to r12/r13), plus
    // three single-shot samples interleaved at the 1/4, 1/2, 3/4 marks
    // of the timed pass = nine samples per side, landing in the JSON as
    // probe_samples plus a [min, median, max] probe_band. Downstream,
    // probe_compare turns the band into a normalized RANGE instead of a
    // point estimate.
    val probeScanSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
    val probeShufSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
    def probeTime(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def scanJob(): Unit = spark.range(0L, 200000000L, 1L, 32)
      .selectExpr("sum(id * 2654435761L % 1000003)").collect()
    def shuffleJob(): Unit = spark.range(0L, 8000000L, 1L, 32)
      .selectExpr("id % 100000 as k").groupBy("k").count()
      .selectExpr("sum(count)").collect()
    def probeSample(): (Double, Double) = {
      val s = probeTime(scanJob()); val h = probeTime(shuffleJob())
      probeScanSamples += s; probeShufSamples += h
      (s, h)
    }
    def calibrationProbe(): (Double, Double) = {
      val ss = (1 to 3).map(_ => probeSample())
      (ss.map(_._1).min, ss.map(_._2).min)
    }
    scanJob(); shuffleJob() // warm the two plan shapes once, untimed
    val probePre = calibrationProbe()
    // Interleaved probe points: immediately before the queries at the
    // 1/4, 1/2, 3/4 marks of the (name-sorted, deterministic) timed
    // order. This inserts a tiny synthetic predecessor in front of
    // those three queries — a permanent structural change from r14 on;
    // full-surface runs remain comparable only to runs with the same
    // structure, which is already the standing rule.
    val n = ordered.size
    val interleaveAt: Set[Int] = Set(n / 4, n / 2, 3 * n / 4).filter(i => i > 0 && i < n)
    // Rows that tripped the >2× rep-spread guard, with ALL their raw rep
    // times (the flagged-row evidence verdict r14 item 3 asked for).
    val noisyReps = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    def compilations: Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compiled = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val results = ordered.zipWithIndex.map { case ((name, fn), idx) =>
      if (interleaveAt(idx)) probeSample()
      // A failed rep must NOT post its (near-zero) wall as the query's
      // min — the r11 sf4.0 leg showed a throwing query landing as
      // "0.006 s", which reads as FAST in every downstream table. Failed
      // reps are excluded; a query with zero successful reps posts -1.0
      // (impossible as a duration, loud in any consumer) and the error
      // goes to stderr.
      def timedRep(): Option[Double] = {
        val t0 = System.nanoTime()
        attempt(name)(fn(spark, sfDir).count()).map(_ => (System.nanoTime() - t0) / 1e9)
      }
      // Classes Janino compiled during the timed reps (Spark's process-
      // wide CodegenMetrics counter): the warm-up compiled the same plan
      // shapes at sf0.001 and the sized cache still holds them, so a
      // non-zero count is code that differs at the target scale
      // (data-dependent literals or plan choices), not first-run cost.
      val c0 = compilations
      val times = (1 to reps).flatMap(_ => timedRep())
      compiled(name) = compilations - c0
      // Every row reports the min of the same `reps` reps. A row whose
      // rep spread exceeds 2× (single-row 4–12× spikes on a shared host,
      // r14 c32 leg) lands in the JSON ("noisy_reps") with every raw rep
      // time, so downstream tables can see which mins came from a noisy
      // sample.
      if (times.size >= 2 && times.max / times.min > 2.0) noisyReps(name) = times
      name -> (if (times.nonEmpty) times.min else -1.0)
    }
    // 3-decimal floats: the consumer captures only the TAIL of this
    // process's output, and the full-precision form of ~76 entries
    // overflowed that buffer (round-3 bench line arrived truncated →
    // unparseable). 1 ms resolution is below the box's noise floor anyway.
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val probePost = calibrationProbe()
    def probeJson(p: (Double, Double)): String =
      s"""{"scan":${f3(p._1)},"shuffle":${f3(p._2)}}"""
    def band(xs: Seq[Double]): String = {
      val s = xs.sorted
      val med = if (s.size % 2 == 1) s(s.size / 2)
        else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
      s"[${f3(s.head)},${f3(med)},${f3(s.last)}]"
    }
    val probeBand =
      s""","probe_band":{"scan":${band(probeScanSamples.toSeq)},""" +
      s""""shuffle":${band(probeShufSamples.toSeq)}}"""
    val probeSamplesJson =
      s""","probe_samples":{"scan":${probeScanSamples.map(f3).mkString("[", ",", "]")},""" +
      s""""shuffle":${probeShufSamples.map(f3).mkString("[", ",", "]")}}"""
    def entry(k: String, v: String): String = Json.quote(k) + ":" + v
    def nameList(key: String, names: Seq[String]): String =
      if (names.isEmpty) ""
      else names.distinct.sorted.map(Json.quote).mkString(s",${Json.quote(key)}:[", ",", "]")
    val noisyJson =
      if (noisyReps.isEmpty) ""
      else noisyReps.map { case (k, ts) => entry(k, ts.map(f3).mkString("[", ",", "]")) }
        .mkString(",\"noisy_reps\":{", ",", "}")
    val probes = s""""probe_pre":${probeJson(probePre)},"probe_post":${probeJson(probePost)}""" +
      probeBand + nameList("warm_failed", warmFailed)
    val qs = results.map { case (k, v) => entry(k, f3(v)) }.mkString("{", ",", "}")
    val compiledJson = compiled.map { case (k, c) => entry(k, c.toString) }
      .mkString(",\"codegen_compilations\":{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // Full line carries every raw probe sample; the compact tail line
    // below carries only the [min, median, max] band (tail-buffer budget).
    val line = s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs$compiledJson,$probes$probeSamplesJson$noisyJson,"sf":${Json.quote(sfDir)}}"""
    println(line)
    // The stdout consumer captures only the last ~2000 chars of this
    // process's output, which truncates the ~220-entry map's HEAD — so
    // the FULL table is also written to a file (durable per-round
    // history: each query judged against its own prior number, not just
    // whichever slice survived the tail buffer).
    // A FILTERED run must never clobber the full-table history file —
    // default subset output goes to its own file.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (filter.isEmpty) "bench_full.json" else "bench_subset.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // Per-LEG durable table (r15, verdict item 2): the r14 8-core
    // scaling leg clobbered bench_full.json, leaving NO full 32-core
    // table anywhere. Every unfiltered default-output run now also
    // writes a core-count-suffixed copy, so legs at different core
    // counts can never overwrite each other's full table.
    if (filter.isEmpty && sys.env.get("SPARK_GRAFT_BENCH_OUT").isEmpty)
      java.nio.file.Files.write(java.nio.file.Paths.get(s"bench_full_c$cpus.json"),
        line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // LAST line: a compact summary guaranteed to fit whole inside the
    // consumer's tail buffer (total + the slowest queries, map capped at
    // ~1.2 kB), so the driver-side artifact parses on its own even
    // though the full line above arrives head-truncated. Slowest-first:
    // if only one slice survives, it should be the one worth reading.
    val slowest = results.sortBy(-_._2).iterator
      .map { case (k, v) => entry(k, f3(v)) }
      .scanLeft(("", 0)) { case ((_, len), e) => (e, len + e.length + 1) }
      .drop(1).takeWhile(_._2 <= 1200).map(_._1).toSeq
    val compact = s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":${
      slowest.mkString("{", ",", "}")},"n_queries":${results.size},"n_noisy":${noisyReps.size},"codegen_compilations_total":${compiled.values.sum},$probes,"sf":${Json.quote(sfDir)}}"""
    println(compact)
    spark.stop()
  }
}
