package graft

/** r14 optimization-round instrument: dump the EXECUTED
  * `.explain("formatted")` plan of named queries to files — the
  * before/after evidence the plans/r14/ deliverable pins. Builds the
  * Bench session ([[GraftSession]] at SPARK_GRAFT_CPUS cores) so the
  * dumped plan is the one the bench runs.
  *
  * Run: sbt "Test/runMain graft.PlanDumpMain <outDir> <suffix> <q1,q2,...> [sfDir]"
  * writes <outDir>/<query>_<suffix>.txt per query.
  */
object PlanDumpMain {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").filter(_.nonEmpty).toSeq
    val dir = args.lift(3).getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.builder("plan-dump", Bench.cpusFromEnv()).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (n <- names) {
      val df = SparkEntry.queries(n)(spark, dir)
      // Execute first so AQE's FINAL plan is what prints (join
      // strategies and coalesced reads differ from the initial plan).
      df.queryExecution.toRdd.count()
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] wrote $outDir/${n}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
