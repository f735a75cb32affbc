package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Validated command line of one benchmark process. */
final case class Args(mode: String, workload: String, seed: Long, seconds: Int, trace: Boolean,
    cores: Int, root: Path, work: Path, commit: String, sourceHash: String,
    injectFailure: Option[String], digests: Option[Path])

object Args {
  private val Workloads = Set("olap", "iterative", "curation", "serve_ingest")

  def parse(argv: Array[String]): Args = {
    val kv = mutable.LinkedHashMap.empty[String, String]
    val it = argv.iterator
    while (it.hasNext) {
      val k = it.next()
      require(k.startsWith("--") && k.length > 2, s"unexpected argument '$k'")
      require(it.hasNext, s"missing value for $k")
      require(!kv.contains(k), s"$k given twice")
      kv(k) = it.next()
    }
    val known = Set("--mode", "--workload", "--seed", "--seconds", "--trace", "--cores",
      "--root", "--work", "--commit", "--source-hash", "--inject-failure", "--digests")
    kv.keys.find(!known(_)).foreach(k => throw new IllegalArgumentException(s"unknown option $k"))
    def need(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing required option $k"))
    def int(k: String, lo: Long, hi: Long): Long = {
      val v = need(k)
      val n = v.toLongOption.getOrElse(throw new IllegalArgumentException(s"$k must be an integer, got '$v'"))
      require(n >= lo && n <= hi, s"$k must be in [$lo, $hi], got $n")
      n
    }
    val mode = kv.getOrElse("--mode", "run")
    require(Set("run", "digests", "selftest")(mode), s"--mode must be run, digests or selftest, got '$mode'")
    val workload = if (mode == "run") need("--workload") else kv.getOrElse("--workload", "olap")
    require(Workloads(workload), s"--workload must be one of ${Workloads.toSeq.sorted.mkString(", ")}, got '$workload'")
    val trace = need("--trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got '$trace'")
    val root = java.nio.file.Paths.get(need("--root")).toAbsolutePath.normalize
    require(Files.isDirectory(root), s"--root $root is not a directory")
    val work = root.resolve(need("--work")).normalize
    require(work.startsWith(root.resolve(".bench_build")), s"--work $work is not under .bench_build")
    Args(mode, workload, int("--seed", 0, Long.MaxValue), int("--seconds", 1, 600).toInt,
      trace == "1", int("--cores", 1, 1024).toInt, root, work,
      kv.getOrElse("--commit", "unknown"), kv.getOrElse("--source-hash", "unknown"),
      kv.get("--inject-failure"), kv.get("--digests").map(root.resolve))
  }
}

/** One benchmark operation's record. */
final case class OpRecord(id: Long, name: String, kind: String, startMs: Long, endMs: Long,
    seconds: Double, rows: Long, traced: Boolean, ok: Boolean)

/** Shared state of one run: the session, the tracer, the probe, the
  * operation ledger, failure and correctness accounting. */
final class Ctx(val spark: SparkSession, val args: Args, val config: Config) {
  val tracer = new Tracer(false)
  @volatile var probe: Option[Probe] = None
  private val opIds = new AtomicLong(0)
  val ops = new java.util.concurrent.ConcurrentLinkedQueue[OpRecord]()
  val attempted = new AtomicLong(0)
  val failed = new AtomicLong(0)
  val wrong = new AtomicLong(0)
  val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  /** Untimed (set-up and warm-up) operations and their seconds. */
  val setupOps = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
  /** Process start, and the start of the first timed operation (epoch ms). */
  val jvmStartMs: Long = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private val firstTimedMs = new AtomicLong(0)

  /** Time from process start to the first timed operation. */
  def setupSeconds: Double = (firstTimedMs.get - jvmStartMs) / 1e3

  // Totals over traced passes, for the per-layer report.
  @volatile var tracedWallS = 0.0
  @volatile var tracedPasses = 0
  @volatile var jvmGcMs = 0L
  @volatile var codegenCount = 0L
  @volatile var codegenMs = 0.0

  def nextOp(): Long = opIds.incrementAndGet()

  /** Run one operation: time `body`, count it, log and count a failure.
    * Returns the body's result, or None when it threw. The local
    * property tags every Spark job the body submits with the op id. */
  def op[T](name: String, kind: String, timed: Boolean)(body: Long => (T, Long)): Option[T] = {
    val id = nextOp()
    val sc = spark.sparkContext
    sc.setLocalProperty(Probe.OpKey, id.toString)
    attempted.incrementAndGet()
    val t0 = System.nanoTime()
    val m0 = System.currentTimeMillis()
    if (timed) firstTimedMs.compareAndSet(0, m0)
    val res = try {
      if (args.injectFailure.contains(name)) throw new InjectedFailure(name)
      Right(body(id))
    } catch { case e: Throwable if scala.util.control.NonFatal(e) || e.isInstanceOf[NotImplementedError] => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    val m1 = System.currentTimeMillis()
    sc.setLocalProperty(Probe.OpKey, null)
    if (!timed) setupOps.add(name -> secs)
    res match {
      case Right((v, rows)) =>
        if (timed) ops.add(OpRecord(id, name, kind, m0, m1, secs, rows, tracer.enabled, ok = true))
        Some(v)
      case Left(e) =>
        failed.incrementAndGet()
        val msg = s"$name failed (${if (timed) "timed" else "setup"}): ${e.getClass.getName}: " +
          String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("").take(300)
        failures.add(msg)
        System.err.println(s"[perfbench] $msg")
        if (timed) ops.add(OpRecord(id, name, kind, m0, m1, secs, 0, tracer.enabled, ok = false))
        None
    }
  }

  def mismatch(what: String, expected: String, got: String): Unit = {
    wrong.incrementAndGet()
    val msg = s"$what: wrong result: expected $expected, got $got"
    failures.add(msg)
    System.err.println(s"[perfbench] $msg")
  }

  def check(what: String, expected: Option[String], got: String): Unit = expected match {
    case Some(e) if e == got => ()
    case Some(e) => mismatch(what, e, got)
    case None => mismatch(what, "a recorded digest", s"none recorded (got $got)")
  }
}

final class InjectedFailure(name: String) extends RuntimeException(s"injected failure in $name")

/** Workload definitions and recorded digests, read from the files that
  * sit beside the benchmark. */
final class Config(root: Path, digestsOverride: Option[Path]) {
  private val manifest = Json.read(root.resolve("perfbench/workloads.json"))
  val dataDir: String = root.resolve(manifest.get("data").asText).toString
  val warmDir: String = root.resolve(manifest.get("warm_data").asText).toString
  def workload(name: String) = manifest.get("workloads").get(name)
  def queries(name: String): Seq[String] = Json.strings(workload(name).get("queries"))
  /** Timed passes of a run: `--seconds` over the workload's nominal pass
    * time, at least 2. A count, not a deadline, so both sides of a
    * comparison take the median over the same number of passes. */
  def passes(name: String, seconds: Int): Int =
    math.max(2, math.round(seconds / workload(name).get("pass_s").asDouble).toInt)

  val digestsPath: Path = digestsOverride.getOrElse(root.resolve("perfbench/digests/digests.json"))
  val digests: Map[String, String] =
    if (!Files.exists(digestsPath)) Map.empty
    else Json.fields(Json.read(digestsPath)).map { case (k, v) => k -> v.asText }.toMap
}

object Session {
  def start(args: Args, work: Path): SparkSession = {
    val n = args.cores.toString
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$n]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.checkpoint.dir", work.resolve("checkpoints").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** The three batch workloads: every query of the workload's list, built
  * and collected (every output column forced) once per pass, passes in a
  * seed-permuted order, each result checked against its digest after its
  * timer stopped. */
object Batch {

  /** One query: build (inside operators), collect, then digest. */
  def runQuery(ctx: Ctx, name: String, dir: String, sfLabel: String, timed: Boolean): Unit = {
    val fn = graft.SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"unknown query $name in workloads.json"))
    val got = ctx.op(name, "query", timed) { id =>
      val df: DataFrame = ctx.tracer.span("operators", "build", id)(fn(ctx.spark, dir))
      val rows: Array[Row] = ctx.tracer.span("action", "collect", id)(df.collect())
      ((df.schema, rows), rows.length.toLong)
    }
    got.foreach { case (schema, rows) =>
      ctx.check(s"$name@$sfLabel", ctx.config.digests.get(s"$name@$sfLabel"), Digest.of(schema, rows))
    }
  }

  /** Returns each pass's wall seconds and whether it was traced. */
  def run(ctx: Ctx, workload: String): Seq[(Double, Boolean)] = {
    val names = ctx.config.queries(workload)
    // Warm every plan shape at the small scale, then make one untimed
    // pass at full scale: in a fresh JVM the first full-scale pass runs
    // while the JIT is still compiling the hot loops, and would read
    // 1.5-2x slower than the passes after it.
    names.foreach(runQuery(ctx, _, ctx.config.warmDir, "sf0.001", timed = false))
    new scala.util.Random(ctx.args.seed * 7919 - 1).shuffle(names)
      .foreach(runQuery(ctx, _, ctx.config.dataDir, "sf0.1", timed = false))
    Runner.passes(ctx, workload) { pass =>
      new scala.util.Random(ctx.args.seed * 7919 + pass).shuffle(names)
        .foreach(runQuery(ctx, _, ctx.config.dataDir, "sf0.1", timed = true))
    }
  }
}

/** The timed passes of a run, with tracing turned on and off. */
object Runner {
  /** Run the workload's timed passes and return each one's wall seconds
    * and whether it was traced. A traced run makes twice the passes and
    * traces the odd ones: the ratio of the traced to the untraced median
    * is the tracing overhead. */
  def passes(ctx: Ctx, workload: String)(body: Int => Unit): Seq[(Double, Boolean)] = {
    val n = ctx.config.passes(workload, ctx.args.seconds)
    (0 until (if (ctx.args.trace) 2 * n else n)).map { pass =>
      val traced = ctx.args.trace && pass % 2 == 1
      tracedPass(ctx, traced) {
        val t0 = System.nanoTime()
        body(pass)
        ((System.nanoTime() - t0) / 1e9, traced)
      }
    }
  }

  def tracedPass[T](ctx: Ctx, traced: Boolean)(body: => T): T = {
    if (!traced) body
    else {
      val probe = ctx.probe.getOrElse { val p = new Probe(ctx.spark); ctx.probe = Some(p); p }
      probe.attach()
      ctx.tracer.enabled = true
      val (c0, _) = JvmCounters.codegen
      val g0 = JvmCounters.gcMs
      val t0 = System.nanoTime()
      try body
      finally {
        ctx.tracedWallS += (System.nanoTime() - t0) / 1e9
        ctx.tracedPasses += 1
        ctx.jvmGcMs += JvmCounters.gcMs - g0
        val (c1, mean) = JvmCounters.codegen
        ctx.codegenCount += c1 - c0
        ctx.codegenMs += (c1 - c0) * mean
        ctx.tracer.enabled = false
        probe.drainAndDetach()
      }
    }
  }
}
