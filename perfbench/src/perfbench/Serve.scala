package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Ddl, PlanCache, Tables}
import graft.operators.Dedup
import graft.sources.Versioned
import graft.streaming.EventPipeline

/** `serve_ingest`: one process, nproc-1 reader threads and one writer
  * thread in closed-loop rounds. A round is a fixed script: each reader
  * makes one read of each kind (a SELECT per template, a probe per index,
  * a versioned windowed count) in a seed-permuted order, the writer makes
  * [[AppendsPerRound]] event appends and one crawl-batch admission, and
  * compacts the event table every [[OptimizeEvery]] appends. The round
  * ends when every thread is done; whichever path ends last, the readers'
  * or the writer's, bounds it. */
object Serve {
  val AppendsPerRound = 2
  val OptimizeEvery = 2   // once per round, so every round does the same work
  val SliceRows = 20000L   // events in the versioned table at creation
  val AppendRows = 500L    // events per append
  val CrawlBatch = 50      // held-out documents per admission
  val Literals = 64        // distinct literals per SELECT template
  val ProbeVectors = 16    // embeddings used as probe vectors

  val Templates: Seq[String] = Seq(
    "SELECT o_orderpriority, count(*) AS n, sum(o_totalprice) AS s FROM orders " +
      "WHERE o_custkey % 64 = %d GROUP BY o_orderpriority",
    "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS q FROM lineitem " +
      "WHERE l_suppkey % 64 = %d GROUP BY l_returnflag, l_linestatus",
    "SELECT event_type, count(*) AS n, max(value) AS v FROM events " +
      "WHERE user_id % 64 = %d GROUP BY event_type")
  val Indexes: Seq[String] = Seq("emb_ivf", "emb_lsh")

  def sqlText(t: Int, k: Int): String = Templates(t).replace("%d", k.toString)

  /** Everything the timed phase reads from or writes to. */
  final case class State(eventsPath: String, admittedPath: String, corpus: String,
      probes: Seq[(Long, Array[Float])], crawl: DataFrame, inputBytesPerAppend: Map[Int, Long],
      crawlBytes: Map[Int, Long], createIndexS: Double, tablesLoadMs: Double)

  /** Build the serving state under `work`: catalog, both indexes, the
    * corpus dedup layout and the versioned event table. */
  def setup(ctx: Ctx, work: Path): State = {
    val spark = ctx.spark
    val dir = ctx.config.dataDir
    val t0 = System.nanoTime()
    ctx.op("tables.load", "setup", timed = false) { _ =>
      Tables.names.foreach(Tables.load(spark, dir, _)); ((), 0L)
    }
    val tablesLoadMs = (System.nanoTime() - t0) / 1e6
    ctx.op("ddl.register_all", "setup", timed = false) { _ => Ddl.registerAll(spark, dir); ((), 0L) }
    val i0 = System.nanoTime()
    ctx.op("ddl.create_index", "setup", timed = false) { _ =>
      graft.sql(spark, s"CREATE INDEX emb_ivf ON embeddings USING ivf (embedding) " +
        s"LOCATION '${work.resolve("emb_ivf")}'").collect()
      graft.sql(spark, "CREATE INDEX emb_lsh ON embeddings USING lsh (embedding)").collect()
      ((), 0L)
    }
    val createIndexS = (System.nanoTime() - i0) / 1e9
    val docs = Tables.documents(spark, dir)
    val corpus = "perfbench_corpus"
    ctx.op("dedup.layout", "setup", timed = false) { _ =>
      Dedup.writeCorpusDedupLayout(docs.filter(col("doc_id") % 5 =!= 0), corpus); ((), 0L)
    }
    val eventsPath = work.resolve("events_v").toString
    val events = Tables.events(spark, dir)
    ctx.op("versioned.create", "setup", timed = false) { _ =>
      Versioned.create(spark, eventsPath, events.filter(col("event_id") < SliceRows)); ((), 0L)
    }
    val probes = spark.table("embeddings").filter(col("vec_id") < ProbeVectors)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).sortBy(_._1).toSeq
    // Logical input bytes: 8 per fixed-width value plus UTF-8 text bytes.
    val appendBytes = events.filter(col("event_id") >= SliceRows)
      .groupBy(((col("event_id") - SliceRows) / AppendRows).cast("int").as("b"))
      .agg(sum(lit(32L) + octet_length(col("event_type")) + octet_length(col("props"))).as("bytes"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val crawl = docs.filter(col("doc_id") % 5 === 0)
      .withColumn("batch", ((col("doc_id") / 5) / CrawlBatch).cast("int"))
      .localCheckpoint()
    val crawlBytes = crawl.groupBy("batch")
      .agg(sum(lit(16L) + octet_length(col("text")) + octet_length(col("lang")) +
        octet_length(col("source"))).as("bytes"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    State(eventsPath, work.resolve("admitted").toString, corpus, probes, crawl,
      appendBytes, crawlBytes, createIndexS, tablesLoadMs)
  }

  def probeText(index: String, v: Array[Float]): String =
    s"PROBE INDEX $index FOR (${v.map(_.toString).mkString(", ")}) LIMIT 10"

  /** Zipf-weighted literal rank: frequent literals hit the plan cache,
    * rare ones miss. */
  private def zipf(rnd: scala.util.Random): Int = {
    val w = (0 until Literals).map(r => 1.0 / math.pow(r + 1, 1.1))
    var x = rnd.nextDouble() * w.sum
    var r = 0
    while (r < Literals - 1 && x > w(r)) { x -= w(r); r += 1 }
    r
  }

  final class Live(val st: State) {
    val appends = new AtomicLong(0)     // event appends committed
    val batches = new AtomicLong(0)     // crawl batches offered
    /** Committed admissions (digest key, crawl batch, table version),
      * checked after the timed phase so the check stays off the round. */
    val admissions = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int, Long)]()
    val inputBytes = new AtomicLong(0)
    val conflicts = new AtomicLong(0)
    val filesRead = new AtomicLong(0)
  }

  private def collectRows(ctx: Ctx, id: Long, df: DataFrame): (Array[Row], Long) = {
    val rows = ctx.tracer.span("action", "collect", id)(df.collect())
    (rows, rows.length.toLong)
  }

  /** One read of kind `kind`: a template index, then one probe per index
    * in [[Indexes]], then a windowed count. Every reader probes every
    * index once a round, so rounds differ in literals and vectors but
    * not in the kinds of work they do. */
  def read(ctx: Ctx, live: Live, round: Int, reader: Int, kind: Int, timed: Boolean): Unit = {
    // What is read depends on the round and reader only, so every seed
    // does the same work; the seed only permutes the order.
    val rnd = new scala.util.Random((round * 131L + reader) * 17L + kind)
    val spark = ctx.spark
    if (kind < Templates.size) {
      val (t, k) = (kind, zipf(rnd))
      val key = s"serve:sql:$t:$k"
      ctx.op(key, "read", timed) { id =>
        val df = ctx.tracer.span("graftsql", "call", id)(graft.sql(spark, sqlText(t, k)))
        val (rows, n) = collectRows(ctx, id, df)
        ((df.schema, rows), n)
      }.foreach { case (s, rows) => ctx.check(key, ctx.config.digests.get(key), Digest.of(s, rows)) }
    } else if (kind < Templates.size + Indexes.size) {
      val index = Indexes(kind - Templates.size)
      val (vid, v) = live.st.probes(rnd.nextInt(live.st.probes.size))
      val key = s"serve:probe:$index:$vid"
      ctx.op(key, "read", timed) { id =>
        ctx.tracer.span("ddl", "probe", id) {
          val df = ctx.tracer.span("graftsql", "call", id)(graft.sql(spark, probeText(index, v)))
          val (rows, n) = collectRows(ctx, id, df)
          ((df.schema, rows), n)
        }
      }.foreach { case (s, rows) => ctx.check(key, ctx.config.digests.get(key), Digest.of(s, rows)) }
    } else {
      val committedBefore = live.appends.get
      ctx.op("serve:window", "read", timed) { id =>
        val ev = ctx.tracer.span("versioned", "read", id)(Versioned.read(spark, live.st.eventsPath))
        if (ctx.tracer.enabled) live.filesRead.addAndGet(ev.inputFiles.length)
        val rows = ctx.tracer.span("pipeline", "window", id) {
          collectRows(ctx, id, EventPipeline.windowedCounts(ev))._1
        }
        (rows, rows.length.toLong)
      }.foreach { rows =>
        // The snapshot holds the slice plus some prefix of the appends.
        val total = rows.map(_.getAs[Long]("n_events")).sum
        val m = (total - SliceRows) / AppendRows
        val ok = total >= SliceRows && (total - SliceRows) % AppendRows == 0 &&
          m >= committedBefore && m <= live.appends.get
        if (!ok) ctx.mismatch("serve:window", s"$SliceRows + $AppendRows x [$committedBefore, ${live.appends.get}] events", total.toString)
      }
    }
  }

  /** The writer's share of round `round`. */
  def write(ctx: Ctx, live: Live, round: Int, timed: Boolean): Unit = {
    val spark = ctx.spark
    val events = Tables.events(spark, ctx.config.dataDir)
    (1 to AppendsPerRound).foreach { _ =>
      val b = (live.appends.get % (live.st.inputBytesPerAppend.size)).toInt
      val lo = SliceRows + b * AppendRows
      ctx.op("serve:append", "write", timed) { id =>
        val txn = ctx.tracer.span("versioned", "begin", id)(Versioned.begin(spark, live.st.eventsPath))
        ctx.tracer.span("versioned", "stage", id)(Versioned.stage(txn,
          events.filter(col("event_id") >= lo && col("event_id") < lo + AppendRows)))
        val v = try ctx.tracer.span("versioned", "commit", id)(Versioned.commitAppend(spark, txn))
        catch { case e: Versioned.ConflictException => live.conflicts.incrementAndGet(); throw e }
        (v, 0L)
      }.foreach { _ =>
        live.appends.incrementAndGet()
        live.inputBytes.addAndGet(live.st.inputBytesPerAppend(b))
        if (live.appends.get % OptimizeEvery == 0)
          ctx.op("serve:optimize", "write", timed) { id =>
            (ctx.tracer.span("versioned", "optimize", id)(Versioned.optimize(spark, live.st.eventsPath)), 0L)
          }
      }
    }
    val batch = (live.batches.getAndIncrement() % live.st.crawlBytes.size).toInt
    val batchId = live.batches.get
    val key = s"serve:admit:$batch"
    ctx.op(key, "write", timed) { id =>
      ctx.tracer.span("dedup", "admit", id) {
        val offered = live.st.crawl.filter(col("batch") === batch).drop("batch")
        val fresh = Dedup.incrementalDedupOnLayout(spark, live.st.corpus, offered)
        val v = ctx.tracer.span("versioned", "commit", id)(
          Versioned.commitBatchAppend(spark, live.st.admittedPath, "perfbench", batchId, fresh))
        (v, 0L)
      }
    }.foreach { v =>
      live.inputBytes.addAndGet(live.st.crawlBytes(batch))
      live.admissions.add((key, batch, v.getOrElse(sys.error(s"batch $batchId was not committed"))))
    }
  }

  /** Check every committed admission against its digest; returns the
    * documents admitted and offered. */
  def checkAdmissions(ctx: Ctx, live: Live): (Long, Long) =
    live.admissions.asScala.toSeq.map { case (key, batch, ver) =>
      val added = Versioned.changesBetween(ctx.spark, live.st.admittedPath, ver - 1, ver)
      val rows = added.collect()
      ctx.check(key, ctx.config.digests.get(key), Digest.of(added.schema, rows))
      (rows.length.toLong, live.st.crawl.filter(col("batch") === batch).count())
    }.foldLeft((0L, 0L)) { case ((a, o), (x, y)) => (a + x, o + y) }

  /** Run one round; returns the seconds until the last reader ended and
    * until the writer ended. */
  def round(ctx: Ctx, live: Live, pool: java.util.concurrent.ExecutorService, round: Int,
      timed: Boolean): (Double, Double) = {
    val t0 = System.nanoTime()
    def timedTask(body: => Unit) = pool.submit(new java.util.concurrent.Callable[Double] {
      def call(): Double = { body; (System.nanoTime() - t0) / 1e9 }
    })
    val readers = (1 until ctx.args.cores).map { r =>
      timedTask {
        val order = new scala.util.Random(ctx.args.seed * 1000003L + round * 131L + r)
        order.shuffle((0 to Templates.size + Indexes.size).toList).foreach(read(ctx, live, round, r, _, timed))
      }
    }
    val writer = timedTask(write(ctx, live, round, timed))
    (readers.map(_.get()).foldLeft(0.0)(math.max), writer.get())
  }

  private def dirBytes(p: String): Long = {
    val root = java.nio.file.Paths.get(p)
    if (!Files.exists(root)) 0L
    else Files.walk(root).iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
  }

  def run(ctx: Ctx, work: Path, sessionS: Double): Report = {
    val st = setup(ctx, work)
    val live = new Live(st)
    val pool = Executors.newFixedThreadPool(ctx.args.cores)
    try {
      // Warm every read and write shape once, untimed.
      round(ctx, live, pool, -1, timed = false)
      val bytes0 = dirBytes(st.eventsPath) + dirBytes(st.admittedPath)
      val in0 = live.inputBytes.get
      val ph0 = (PlanCache.hits, PlanCache.misses)
      val wall0 = System.nanoTime()
      val paths = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
      val walls = Runner.passes(ctx, "serve_ingest")(r => paths += round(ctx, live, pool, r, timed = true))
      val timedS = (System.nanoTime() - wall0) / 1e9
      val written = dirBytes(st.eventsPath) + dirBytes(st.admittedPath) - bytes0
      val input = live.inputBytes.get - in0
      val ph = (PlanCache.hits - ph0._1, PlanCache.misses - ph0._2)
      // Final state: every committed append and admission is readable.
      val expectEvents = SliceRows + AppendRows * live.appends.get
      val gotEvents = Versioned.read(ctx.spark, st.eventsPath).count()
      if (gotEvents != expectEvents) ctx.mismatch("serve:events_final", expectEvents.toString, gotEvents.toString)
      val (admitted, offered) = checkAdmissions(ctx, live)
      val gotAdmitted = Versioned.read(ctx.spark, st.admittedPath).count()
      if (gotAdmitted != admitted)
        ctx.mismatch("serve:admitted_final", admitted.toString, gotAdmitted.toString)

      val ops = ctx.ops.asScala.toSeq.filter(o => !o.traced && o.ok)
      val readsMs = ops.filter(_.kind == "read").map(_.seconds * 1e3)
      val writesMs = ops.filter(_.kind == "write").map(_.seconds * 1e3)
      val untraced = walls.filterNot(_._2).map(_._1)
      val untracedPaths = walls.zip(paths).filterNot(_._1._2).map(_._2)
      val e2e = Seq("setup_s" -> (ctx.setupSeconds, "s"), "total_s" -> (Stats.median(untraced), "s"))
      val named = Seq("ops_per_s" -> (ops.size / untraced.sum, "1/s")) ++
        Seq(("read_p50_ms", readsMs, 50.0), ("read_p95_ms", readsMs, 95.0),
          ("write_p50_ms", writesMs, 50.0), ("write_p90_ms", writesMs, 90.0))
          .flatMap { case (k, xs, p) => Stats.percentile(xs, p).map(v => k -> (v, "ms")) } ++
        Seq("bytes_written_per_input_byte" -> (written.toDouble / math.max(1L, input), "ratio"))
      val info = Seq[(String, Any)](
        "rounds" -> untraced.size, "round_walls_s" -> untraced,
        "round_reader_path_s" -> untracedPaths.map(_._1), "round_writer_path_s" -> untracedPaths.map(_._2),
        "rounds_bound_by_writer" -> untracedPaths.count(p => p._2 >= p._1),
        "rounds_bound_by_readers" -> untracedPaths.count(p => p._2 < p._1), "session_s" -> sessionS,
        "setup_ops_s" -> Report.setupOps(ctx), "reads" -> readsMs.size, "writes" -> writesMs.size,
        "read_tail_ms" -> Stats.highestReportable(readsMs).map { case (p, v) => Map("p" -> p, "value" -> v) },
        "write_tail_ms" -> Stats.highestReportable(writesMs).map { case (p, v) => Map("p" -> p, "value" -> v) },
        "timed_s" -> timedS, "event_appends" -> live.appends.get,
        "plan_cache_hits" -> ph._1, "plan_cache_misses" -> ph._2)
      val traced = ctx.ops.asScala.toSeq.filter(o => o.traced && o.ok)
      val probeOps = traced.filter(_.name.startsWith("serve:probe:"))
      val probeInput = ctx.probe.map(p => probeOps.flatMap(o => p.opStats.get(o.id)).map(_.inputRecords).sum)
        .getOrElse(0L).toDouble
      val windowReads = traced.count(_.name == "serve:window")
      val extra = Map(
        "plancache.hit_frac" -> ph._1.toDouble / math.max(1L, ph._1 + ph._2),
        "tables.load_ms" -> st.tablesLoadMs,
        "ddl.create_index_s" -> st.createIndexS,
        "ddl.rows_scanned_per_result" -> probeInput / math.max(1L, probeOps.map(_.rows).sum),
        "versioned.files_per_read" -> live.filesRead.get.toDouble / math.max(1, windowReads),
        "versioned.conflicts" -> live.conflicts.get.toDouble / math.max(1, ctx.tracedPasses),
        "dedup.admitted_frac" -> admitted.toDouble / math.max(1L, offered))
      Report(e2e, named, if (ctx.args.trace) Report.layers(ctx, walls, extra) else Nil, info)
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(60, TimeUnit.SECONDS)
    }
  }

  /** Digests of every read and admission the workload can make. */
  def digests(ctx: Ctx, work: Path): Seq[(String, String)] = {
    val spark = ctx.spark
    val st = setup(ctx, work)
    val sqls = for (t <- Templates.indices; k <- 0 until Literals) yield {
      val df = graft.sql(spark, sqlText(t, k)); s"serve:sql:$t:$k" -> Digest.of(df.schema, df.collect())
    }
    val probes = for (i <- Indexes; (vid, v) <- st.probes) yield {
      val df = graft.sql(spark, probeText(i, v)); s"serve:probe:$i:$vid" -> Digest.of(df.schema, df.collect())
    }
    val admits = st.crawlBytes.keys.toSeq.sorted.map { b =>
      val df = Dedup.incrementalDedupOnLayout(spark, st.corpus,
        st.crawl.filter(col("batch") === b).drop("batch"))
      s"serve:admit:$b" -> Digest.of(df.schema, df.collect())
    }
    sqls ++ probes ++ admits
  }
}
