package graft

import scala.util.control.NonFatal

/** Ad-hoc explain audit over registered queries: prints codegen-span /
  * exchange / parquet-scan counts plus the plan head for each name
  * passed on the command line — the quick loop for checking a new
  * operator's executed shape against its scaladoc claims.
  * Run: sbt "Test/runMain graft.ExplainAudit t36_gopher_rules ..."
  * An argument containing '/' overrides the corpus dir (default:
  * TestSpark.sf — the same data every spec runs against). */
object ExplainAudit {

  /** A query's executed plan and its (codegen spans, exchanges, parquet
    * scans). Executes first: an AQE plan prints no codegen stars (and
    * may re-plan joins) until it is final — auditing the pre-execution
    * tree under-reports spans and shows never-taken join choices. Final
    * plan only: the AQE treeString appends an "== Initial Plan =="
    * section that would double every count. */
  private def shape(name: String, dir: String): (String, Int, Int, Int) = {
    val df = SparkEntry.queries(name)(TestSpark.spark, dir)
    df.queryExecution.toRdd.count()
    val p = df.queryExecution.executedPlan.treeString
      .split("== Initial Plan ==")(0)
    // Distinct codegen-span IDS, not operator lines: every operator
    // inside span N prints a "*(N)" prefix, so counting lines would
    // report operators and mis-grade "one kernel pass" claims.
    val wsc = "\\*\\((\\d+)\\)".r.findAllMatchIn(p).map(_.group(1)).toSet.size
    val ex = p.linesIterator.count(_.contains("Exchange"))
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    (p, wsc, ex, scans)
  }

  def main(args: Array[String]): Unit = {
    val spark = TestSpark.spark
    val dir = args.find(_.contains("/")).getOrElse(TestSpark.sf)
    // "ALL" = full-surface shape audit: one compact [audit] line per
    // registered query, no plan heads — the per-SF table a cross-SF
    // diff reads (plan shapes can flip with stats: AQE broadcast/skew
    // decisions at sf1.0 differ from sf0.01's). A query that throws
    // gets an ERROR line and the audit goes on; a JVM error ends it.
    val all = args.contains("ALL")
    val names =
      if (all) SparkEntry.queries.keys.toSeq.sorted
      else args.filter(n => !n.contains("/") && n != "ALL").toSeq
    for (n <- names) {
      if (all) {
        try {
          val (p, wsc, ex, scans) = shape(n, dir)
          def count(op: String) = p.linesIterator.count(_.contains(op))
          println(s"[audit] $n spans=$wsc exchanges=$ex scans=$scans " +
            s"joins=${count("Join")} bhj=${count("BroadcastHashJoin")} " +
            s"smj=${count("SortMergeJoin")} cartesian=${count("CartesianProduct")}")
        } catch {
          case NonFatal(e) =>
            println(s"[audit] $n ERROR ${e.getClass.getSimpleName}: ${e.getMessage}")
          case e: Throwable =>
            println(s"[audit] $n: fatal ${e.getClass.getName}, ending the audit")
            throw e
        }
      } else {
        val (p, wsc, ex, scans) = shape(n, dir)
        println(s"[audit] $n codegen_spans=$wsc exchanges=$ex parquet_scans=$scans")
        println(p.linesIterator.take(12).mkString("\n"))
        println("----")
      }
    }
    spark.stop()
  }
}
