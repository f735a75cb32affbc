package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The statement-text front door — the reference's one remaining
  * INTERACTION shape (everything in AnDB arrives as SQL text through one
  * entry point, andb/cmd/ → parser → planner → executor). `graft.sql`
  * gives the same single-string surface: statements Spark itself speaks
  * (SELECT/DML/DDL/ANALYZE/USE/CREATE DATABASE...) go straight to
  * `spark.sql`, planned fresh on every call (why no statement plan is
  * cached: [[PlanCache]]); the reference's statements Spark does NOT
  * speak are routed to their graft analogs —
  *
  *   - `CREATE INDEX n ON t USING ivf|lsh|ivfpq (col) [LOCATION '...']`
  *     (parser_.py:554's `using <method>` form) → [[Ddl.createIndex]]
  *     builds the ANN layout and registers it; B-tree-class methods
  *     (`USING btree`, or no USING — the reference's default) return the
  *     [[Ddl.indexHint]] layout recipe, the honest mapping on immutable
  *     columnar storage.
  *   - `PROBE INDEX n FOR (f1, f2, ...) [LIMIT k]` → [[Ddl.probeIndex]]
  *     — the IndexScan seat: the DDL-created layout serves the query
  *     through its pruned probe path, whatever the method.
  *   - `DROP INDEX n` → [[Ddl.dropIndex]].
  *   - `EXPLAIN [FORMATTED|EXTENDED|SIMPLE] <stmt>` → [[Explain.plan]]
  *     over the recursively-routed statement (so EXPLAIN works on PROBE
  *     INDEX too, which Spark's own EXPLAIN could never parse).
  *   - `CHECKPOINT` (utility.py:163's WAL flush) → a status row naming
  *     the Spark seat of the durability point: a materialized lineage
  *     cut, `Dataset.localCheckpoint` (executor storage) or
  *     `Dataset.checkpoint` under a checkpoint dir (durable across
  *     failures). There is no WAL to flush; cuts are per-dataset, not
  *     global.
  *
  * Parameterized text (`:name` markers) forwards `params` to Spark's
  * native named-parameter binding.
  */
object GraftSql {

  // USING may precede the column list (this library's DdlSpec form) or
  // follow it (the reference grammar's form — tests/unit/
  // test_sql_parser.py:101-106 puts `using btree|lsmtree` AFTER the
  // parens); both are accepted, whichever group matched wins.
  private val CreateIndexRe =
    """(?is)^\s*CREATE\s+INDEX\s+(\w+)\s+ON\s+(\w+)(?:\s+USING\s+(\w+))?\s*\(\s*([\w\s,]+?)\s*\)(?:\s+USING\s+(\w+))?(?:\s+LOCATION\s+'([^']*)')?\s*;?\s*$""".r
  private val DropIndexRe = """(?is)^\s*DROP\s+INDEX\s+(\w+)\s*;?\s*$""".r
  private val ProbeIndexRe =
    """(?is)^\s*PROBE\s+INDEX\s+(\w+)\s+FOR\s*\(([^)]*)\)(?:\s+LIMIT\s+(\d+))?\s*;?\s*$""".r
  private val ExplainRe =
    """(?is)^\s*EXPLAIN(?:\s+(FORMATTED|EXTENDED|SIMPLE))?\s+(.+?)\s*;?\s*$""".r
  private val CheckpointRe = """(?is)^\s*CHECKPOINT\s*;?\s*$""".r

  def run(spark: SparkSession, text: String,
      params: Map[String, Any] = Map.empty): DataFrame = {
    import spark.implicits._
    text match {
      case CreateIndexRe(name, table, usingPre, cols, usingPost, loc) =>
        require(usingPre == null || usingPost == null,
          s"two USING clauses in CREATE INDEX $name — malformed in both grammars")
        val method = Option(usingPre).orElse(Option(usingPost))
          .map(_.toLowerCase).getOrElse("btree")
        if (method == "ivf" || method == "lsh" || method == "ivfpq") {
          val location = Option(loc).getOrElse(Ddl.warehousePath(spark, s"${name}_layout"))
          val d = Ddl.createIndex(spark, name, spark.table(table), method, location)
          Seq((name, table, d.using, location))
            .toDF("index", "table", "method", "location")
        } else
          // B-tree-class: columnar files already carry min/max page
          // stats; the index IS write-time sort layout. Return the
          // recipe instead of silently dropping the statement.
          Seq((name, table, method,
            Ddl.indexHint(cols.split(",").map(_.trim).toSeq)))
            .toDF("index", "table", "method", "layout")
      case DropIndexRe(name) =>
        Seq((name, Ddl.dropIndex(name))).toDF("index", "dropped")
      case ProbeIndexRe(name, vec, k) =>
        val qv = vec.split(",").map(_.trim.toFloat)
        Ddl.probeIndex(spark, name, qv,
          k = Option(k).map(_.toInt).getOrElse(10))
      case ExplainRe(mode, rest) =>
        Explain.plan(run(spark, rest, params),
          Option(mode).map(_.toLowerCase).getOrElse("formatted"))
      case CheckpointRe() =>
        Seq(("checkpoint", "ok",
          "durability point on Spark = Dataset.checkpoint / " +
            "Dataset.localCheckpoint; no global WAL to flush"))
          .toDF("command", "status", "detail")
      case _ => spark.sql(text, params)
    }
  }
}
