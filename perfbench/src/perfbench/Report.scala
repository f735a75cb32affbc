package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** What one run measured: the end-to-end metrics every workload reports
  * (value, unit), further end-to-end metrics this workload defines, the
  * per-layer metrics (traced runs only) and other figures. */
final case class Report(e2e: Seq[(String, (Double, String))], named: Seq[(String, (Double, String))],
    layers: Seq[(String, (Double, String))], info: Seq[(String, Any)])

object Report {
  /** Every per-layer metric, in report order, with its unit. A layer the
    * workload does not reach reports 0. */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "operators.build_s" -> "s", "operators.cut_blocks" -> "count", "operators.cut_bytes_peak" -> "bytes",
    "plans.rule_s" -> "s", "plans.rule_effective_frac" -> "frac",
    "graftsql.call_ms" -> "ms", "plancache.hit_frac" -> "frac", "tables.load_ms" -> "ms",
    "ddl.create_index_s" -> "s", "ddl.probe_ms" -> "ms", "ddl.rows_scanned_per_result" -> "ratio",
    "versioned.stage_ms" -> "ms", "versioned.commit_ms" -> "ms", "versioned.read_plan_ms" -> "ms",
    "versioned.files_per_read" -> "count", "versioned.optimize_s" -> "s", "versioned.conflicts" -> "count",
    "io.bytes_written" -> "bytes", "dedup.admit_ms" -> "ms", "dedup.admitted_frac" -> "frac",
    "pipeline.window_ms" -> "ms",
    "spark.catalyst.analysis_s" -> "s", "spark.catalyst.optimizer_s" -> "s", "spark.catalyst.planning_s" -> "s",
    "spark.codegen.compile_s" -> "s", "spark.codegen.compilations" -> "count", "spark.driver.gap_s" -> "s",
    "spark.scheduler.jobs" -> "count", "spark.scheduler.stages" -> "count", "spark.scheduler.tasks" -> "count",
    "spark.scheduler.delay_s" -> "s", "spark.executor.run_s" -> "s", "spark.executor.cpu_s" -> "s",
    "spark.executor.gc_s" -> "s", "spark.executor.busy_frac" -> "frac",
    "spark.shuffle.write_bytes" -> "bytes", "spark.shuffle.read_bytes" -> "bytes",
    "spark.shuffle.fetch_wait_s" -> "s", "spark.spill.bytes" -> "bytes",
    "spark.scan.input_bytes" -> "bytes", "spark.scan.rows_per_output_row" -> "ratio",
    "jvm.gc_s" -> "s",
    "self.operators_s" -> "s", "self.action_s" -> "s", "self.graftsql_s" -> "s", "self.ddl_s" -> "s",
    "self.versioned_s" -> "s", "self.dedup_s" -> "s", "self.pipeline_s" -> "s",
    "trace.overhead" -> "ratio")

  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  /** Untimed operations, summed by name. */
  def setupOps(ctx: Ctx): Map[String, Double] =
    ctx.setupOps.asScala.toSeq.groupMapReduce(_._1)(_._2)(_ + _)

  def batch(ctx: Ctx, walls: Seq[(Double, Boolean)], sessionS: Double): Report = {
    val untraced = walls.filterNot(_._2).map(_._1)
    val timed = ctx.ops.asScala.toSeq.filter(o => !o.traced && o.ok)
    val lat = timed.map(_.seconds)
    val e2e = Seq(
      "setup_s" -> (ctx.setupSeconds, "s"),
      "total_s" -> (Stats.median(untraced), "s"))
    val named = Seq("query_p50_s" -> 50.0, "query_p90_s" -> 90.0)
      .flatMap { case (k, p) => Stats.percentile(lat, p).map(v => k -> (v, "s")) }
    val info = Seq[(String, Any)](
      "passes" -> untraced.size, "pass_walls_s" -> untraced,
      "session_s" -> sessionS, "query_samples" -> lat.size,
      "query_tail_s" -> Stats.highestReportable(lat).map { case (p, v) => Map("p" -> p, "value" -> v) },
      "query_s" -> timed.groupMap(_.name)(_.seconds), "setup_ops_s" -> setupOps(ctx))
    Report(e2e, named, if (ctx.args.trace) layers(ctx, walls, Map.empty) else Nil, info)
  }

  /** Per-layer metrics over the traced passes. Totals are per traced
    * pass; `_ms` figures are means per call. */
  def layers(ctx: Ctx, walls: Seq[(Double, Boolean)], extra: Map[String, Double]): Seq[(String, (Double, String))] = {
    val p = ctx.probe.getOrElse(sys.error("traced run without a probe"))
    val n = math.max(1, ctx.tracedPasses).toDouble
    val st = p.opStats
    def sum(f: p.OpStats => Long): Double = st.values.map(f).sum.toDouble
    val traced = ctx.ops.asScala.toSeq.filter(o => o.traced && o.ok)
    val outRows = traced.map(_.rows).sum.toDouble
    val gapMs = traced.map { o =>
      val spans = st.get(o.id).map(_.jobSpans.toSeq).getOrElse(Nil)
      (o.endMs - o.startMs) - Probe.coveredMs(spans, o.startMs, o.endMs)
    }.sum.toDouble
    def meanMs(layer: String, name: String): Double = {
      val (s, c) = ctx.tracer.total(layer, name); ratio(s * 1e3, c)
    }
    val self = ctx.tracer.selfSeconds
    val phase = (k: String) => Option(p.phaseMs.get(k)).map(_.get / 1e3).getOrElse(0.0) / n
    val untracedMed = walls.filterNot(_._2).map(_._1)
    val tracedMed = walls.filter(_._2).map(_._1)
    val runS = sum(_.runMs) / 1e3
    val m: Map[String, Double] = Map(
      "operators.build_s" -> ctx.tracer.total("operators", "build")._1 / n,
      "operators.cut_blocks" -> p.cutBlocks.get / n,
      "operators.cut_bytes_peak" -> p.cutBytesPeak.get.toDouble,
      "plans.rule_s" -> p.graftRuleNs.get / 1e9 / n,
      "plans.rule_effective_frac" -> ratio(p.graftRuleEffective.get.toDouble, p.graftRuleRuns.get.toDouble),
      "graftsql.call_ms" -> meanMs("graftsql", "call"),
      "ddl.probe_ms" -> meanMs("ddl", "probe"),
      "versioned.stage_ms" -> meanMs("versioned", "stage"),
      "versioned.commit_ms" -> meanMs("versioned", "commit"),
      "versioned.read_plan_ms" -> meanMs("versioned", "read"),
      "versioned.optimize_s" -> ctx.tracer.total("versioned", "optimize")._1 / n,
      "io.bytes_written" -> sum(_.bytesWritten) / n,
      "dedup.admit_ms" -> meanMs("dedup", "admit"),
      "pipeline.window_ms" -> meanMs("pipeline", "window"),
      "spark.catalyst.analysis_s" -> phase("analysis"),
      "spark.catalyst.optimizer_s" -> phase("optimization"),
      "spark.catalyst.planning_s" -> phase("planning"),
      "spark.codegen.compile_s" -> ctx.codegenMs / 1e3 / n,
      "spark.codegen.compilations" -> ctx.codegenCount / n,
      "spark.driver.gap_s" -> gapMs / 1e3 / n,
      "spark.scheduler.jobs" -> sum(_.jobs) / n,
      "spark.scheduler.stages" -> sum(_.stages) / n,
      "spark.scheduler.tasks" -> sum(_.tasks) / n,
      "spark.scheduler.delay_s" -> sum(_.delayMs) / 1e3 / n,
      "spark.executor.run_s" -> runS / n,
      "spark.executor.cpu_s" -> sum(_.cpuNs) / 1e9 / n,
      "spark.executor.gc_s" -> sum(_.gcMs) / 1e3 / n,
      "spark.executor.busy_frac" -> ratio(runS, ctx.tracedWallS * ctx.args.cores),
      "spark.shuffle.write_bytes" -> sum(_.shuffleWrite) / n,
      "spark.shuffle.read_bytes" -> sum(_.shuffleRead) / n,
      "spark.shuffle.fetch_wait_s" -> sum(_.fetchWaitMs) / 1e3 / n,
      "spark.spill.bytes" -> sum(_.spill) / n,
      "spark.scan.input_bytes" -> sum(_.inputBytes) / n,
      "spark.scan.rows_per_output_row" -> ratio(sum(_.inputRecords), outRows),
      "jvm.gc_s" -> ctx.jvmGcMs / 1e3 / n,
      "trace.overhead" -> (if (untracedMed.isEmpty || tracedMed.isEmpty) 0.0
        else Stats.median(tracedMed) / Stats.median(untracedMed))
    ) ++ Seq("operators", "action", "graftsql", "ddl", "versioned", "dedup", "pipeline")
      .map(l => s"self.${l}_s" -> self.getOrElse(l, 0.0) / n) ++ extra
    LayerMetrics.map { case (k, u) => k -> (m.getOrElse(k, 0.0), u) }
  }

  /** Per-query engine figures of the traced passes (mean per execution). */
  private def perQuery(ctx: Ctx): String = ctx.probe.map { p =>
    val st = p.opStats
    val byName = ctx.ops.asScala.toSeq.filter(_.traced).groupBy(_.name)
    Json.obj(byName.toSeq.sortBy(_._1).map { case (name, os) =>
      val ss = os.flatMap(o => st.get(o.id))
      val k = os.size.toDouble
      def s(f: p.OpStats => Long) = ss.map(f).sum / k
      val gap = os.map(o => (o.endMs - o.startMs) -
        Probe.coveredMs(st.get(o.id).map(_.jobSpans.toSeq).getOrElse(Nil), o.startMs, o.endMs)).sum / k
      name -> Map("wall_s" -> os.map(_.seconds).sum / k, "driver_gap_s" -> gap / 1e3,
        "jobs" -> s(_.jobs), "stages" -> s(_.stages), "tasks" -> s(_.tasks),
        "scheduler_delay_s" -> s(_.delayMs) / 1e3, "executor_run_s" -> s(_.runMs) / 1e3,
        "executor_cpu_s" -> s(_.cpuNs) / 1e9, "shuffle_write_bytes" -> s(_.shuffleWrite),
        "shuffle_read_bytes" -> s(_.shuffleRead), "spill_bytes" -> s(_.spill),
        "input_bytes" -> s(_.inputBytes), "rows" -> os.map(_.rows).sum / k)
    })
  }.getOrElse("{}")

  def print(ctx: Ctx, r: Report, work: Path): Unit = {
    val a = ctx.args
    val attempted = ctx.attempted.get
    val env = Seq[(String, Any)]("workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "nproc" -> a.cores, "master" -> ctx.spark.sparkContext.master,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20), "jdk" -> System.getProperty("java.version"),
      "spark" -> ctx.spark.version, "commit" -> a.commit, "source_sha256" -> a.sourceHash)
    println("perfbench: env " + Json.obj(env))
    val e2e = r.e2e ++ r.named ++ Seq(
      "failed_frac" -> (ratio(ctx.failed.get.toDouble, attempted.toDouble), "frac"),
      "wrong_results" -> (ctx.wrong.get.toDouble, "count"))
    e2e.foreach { case (k, (v, u)) => println(f"perfbench: $k%-30s ${Json.num(v)}%s $u%s") }
    if (a.trace) {
      r.layers.foreach { case (k, (v, u)) => println(f"perfbench: $k%-30s ${Json.num(v)}%s $u%s") }
      val trace = a.root.resolve(s".bench_build/traces/${a.workload}-seed${a.seed}")
      ctx.tracer.write(trace.resolve("spans.jsonl"))
      Files.writeString(trace.resolve("queries.json"), perQuery(ctx) + "\n")
      println(s"perfbench: spans and per-query engine figures written to ${a.root.relativize(trace)}")
    }
    println("perfbench: report " + Json.obj(env ++ Seq(
      "end_to_end" -> Json.Raw(Json.obj(e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })),
      "info" -> Json.Raw(Json.obj(r.info)),
      "failures" -> ctx.failures.asScala.toSeq)))
    val metrics = (if (a.trace) r.layers else r.e2e)
      .map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    println(Json.obj(Seq("correct" -> (ctx.wrong.get == 0), "attempted" -> attempted,
      "failed" -> ctx.failed.get, "metrics" -> Json.Raw(Json.obj(metrics)))))
  }
}
