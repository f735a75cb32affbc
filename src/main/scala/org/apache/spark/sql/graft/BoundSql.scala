// Lives under org.apache.spark.sql because Dataset.ofRows is private[sql]
// in Spark 4 (see GroupedTopK.scala).
package org.apache.spark.sql.graft

import java.util.Locale

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.classic.{Dataset, SparkSession}

/** A relational query's SQL text run against one data directory.
  *
  * `BoundSql(spark, dir, "q25_tpch_q1")` parses the query's
  * `RelationalSql.sql` text and replaces each unqualified reference to a
  * testdata table (`Tables.names`) with that table's load from `dir` —
  * in the main plan, inside subquery expressions, and inside CTE bodies
  * (which are not plan children). The result is the plan `spark.sql`
  * gives after `Ddl.registerAll(spark, dir)`, without touching the
  * catalog: no temp view is created or replaced, so two directories can
  * be queried from one session and a registered view set stays as it
  * was. A text's CTE names never shadow a table name, so every matching
  * reference is a table.
  */
object BoundSql {

  def apply(spark: org.apache.spark.sql.SparkSession, dir: String, name: String): DataFrame = {
    val session = spark.asInstanceOf[SparkSession]
    val tables = _root_.graft.Tables.names.toSet
    def bind(plan: LogicalPlan): LogicalPlan = plan.transformUpWithSubqueries {
      case UnresolvedRelation(Seq(t), _, _) if tables(t.toLowerCase(Locale.ROOT)) =>
        val table = t.toLowerCase(Locale.ROOT)
        SubqueryAlias(table, _root_.graft.Tables.table(spark, dir, table).queryExecution.analyzed)
      case w: UnresolvedWith =>
        w.copy(cteRelations = w.cteRelations.map { case (n, body, depth) =>
          (n, bind(body).asInstanceOf[SubqueryAlias], depth)
        })
    }
    val text = _root_.graft.operators.RelationalSql.sql(name)
    Dataset.ofRows(session, bind(session.sessionState.sqlParser.parsePlan(text)))
  }
}
