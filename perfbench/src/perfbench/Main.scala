package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Entry point. Modes:
  *   - `run`: one workload, report on stdout, last line the result JSON;
  *   - `digests`: run every registered query twice at both scales, print
  *     each one's time, rows and digest, and write the digests that were
  *     identical on both runs;
  *   - `selftest`: show that the benchmark's own checks catch failures. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = try Args.parse(argv) catch {
      case e: IllegalArgumentException =>
        System.err.println(s"perfbench: ${e.getMessage}")
        sys.exit(2)
    }
    val code = args.mode match {
      case "run" => run(args)
      case "digests" => makeDigests(args)
      case "selftest" => SelfTest.run(args)
    }
    sys.exit(code)
  }


  def run(args: Args): Int = {
    val work = args.work
    val config = new Config(args.root, args.digests)
    val spark = Session.start(args, work)
    val ctx = new Ctx(spark, args, config)
    val sessionS = (System.currentTimeMillis() - ctx.jvmStartMs) / 1e3
    val gc0 = JvmCounters.gcMs
    val report = args.workload match {
      case "serve_ingest" => Serve.run(ctx, work, sessionS)
      case w => Report.batch(ctx, Batch.run(ctx, w), sessionS)
    }
    val gcS = (JvmCounters.gcMs - gc0) / 1e3
    val heapMb = JvmCounters.heapMbAfterGc
    val full = report.copy(named = report.named ++ Seq("heap_mb" -> (heapMb, "MB")),
      info = report.info ++ Seq("jvm_gc_s" -> gcS))
    Report.print(ctx, full, work)
    spark.stop()
    if (ctx.wrong.get > 0) 1 else 0
  }

  /** Record digests. Batch: every registered query twice per scale, in
    * one process; only digests that agree across the two runs are kept,
    * the rest are listed as unstable. `serve_ingest`: every read and
    * admission the workload can make. Recorded digests of the other kind
    * are kept. */
  def makeDigests(args: Args): Int = {
    val work = args.work
    val config = new Config(args.root, args.digests)
    val spark = Session.start(args, work)
    val out = new java.util.TreeMap[String, String](config.digests.asJava)
    var unstable = List.empty[String]
    if (args.workload == "serve_ingest") {
      out.keySet.removeIf(_.startsWith("serve:"))
      Serve.digests(new Ctx(spark, args, config), work).foreach { case (k, v) => out.put(k, v) }
    } else {
      val names = graft.SparkEntry.queries.keys.toSeq.sorted
      for ((label, dir) <- Seq("sf0.001" -> config.warmDir, "sf0.1" -> config.dataDir); name <- names) {
        val fn = graft.SparkEntry.queries(name)
        val runs = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          try {
            val df = fn(spark, dir)
            val rows = df.collect()
            Right(((System.nanoTime() - t0) / 1e9, rows.length, Digest.of(df.schema, rows)))
          } catch { case e: Exception => Left(e.getClass.getName + ": " + e.getMessage) }
        }
        val key = s"$name@$label"
        out.remove(key)
        println(runs match {
          case Seq(Right((s1, n, d1)), Right((s2, _, d2))) =>
            if (d1 == d2) out.put(key, d1) else unstable ::= key
            Json.obj(Seq("query" -> name, "sf" -> label, "first_s" -> s1, "second_s" -> s2,
              "rows" -> n, "stable" -> (d1 == d2)))
          case other => Json.obj(Seq("query" -> name, "sf" -> label,
            "error" -> other.collect { case Left(m) => m }.mkString("; ")))
        })
      }
    }
    val path = config.digestsPath
    Files.createDirectories(path.getParent)
    Files.writeString(path, out.asScala.map { case (k, v) => s"  ${Json.str(k)}: ${Json.str(v)}" }
      .mkString("{\n", ",\n", "\n}\n"))
    println(Json.obj(Seq("digests" -> out.size, "unstable" -> unstable.reverse)))
    spark.stop()
    0
  }
}
