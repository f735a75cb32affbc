import org.apache.spark.sql.{DataFrame, SparkSession}

/** `graft.sql(spark, "...")` — the library's single-string statement
  * surface; see [[graft.GraftSql]] for the routing table. */
package object graft {
  def sql(spark: SparkSession, text: String,
      params: Map[String, Any] = Map.empty): DataFrame =
    GraftSql.run(spark, text, params)

  /** `df.cut` — the one lineage cut of the operator families (import
    * `graft.Cut`). This is the one statement of the cut policy:
    *   - why a cut: a subtree has two or more consumers (each would
    *     otherwise re-plan and re-run it), or it is loop state (the plan
    *     would grow with every round);
    *   - why lazy: the RDD is built at call time, so under AQE the
    *     upstream shuffle stages still run here, but the result stage
    *     runs inside the first consumer's job and a cut nothing reads
    *     runs nothing more. An eager cut (`Dataset.checkpoint` calls
    *     `RDD.doCheckpoint()` on Spark 4.1) runs a job of its own at
    *     plan-build time. Measured on g01 (OPTIMIZATION_r14.md §8, one
    *     JVM interleaved, 7 reps at sf0.1): lazy min 2.59 s vs eager
    *     2.76 s, results bit-identical;
    *   - why local: the blocks live in executor storage, fast but not
    *     fault tolerant (an executor loss fails the query);
    *   - when its blocks may be freed: [[unpersistCheckpoint]], only after
    *     an action has read the cut's successor. */
  private[graft] implicit final class Cut(private val df: DataFrame) extends AnyVal {
    def cut: DataFrame = df.localCheckpoint(eager = false)
  }

  /** Unpersist the blocks backing a (possibly projected) [[Cut.cut]]. A
    * long-lived session that cuts per iteration/fold and never frees the
    * superseded blocks grows executor memory linearly (the Graph CC-loop
    * lesson, r11) — callers drop each cut as soon as nothing downstream
    * can still read it. A cut is lazy, so its blocks exist only once an
    * action has read it: free it only after an action has read its
    * successor, when no plan that is still to run points at it. */
  private[graft] def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(_.unpersist(blocking = false))
}
