package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §2 + §7.
  *
  * Every operator from the SURVEY §2 inventory registers here as a
  * (SparkSession, sfDir) => DataFrame plus, where the semantics are
  * ANSI-SQL-expressible, an equivalent DuckDB oracle query. Column names
  * are aliased identically on both sides (driver hash-compares by sorted
  * column name). 91 of the relational queries (q01–q99) build their
  * DataFrame from their Spark SQL text bound to sfDir
  * (org.apache.spark.sql.graft.BoundSql), so for them the oracle gate
  * checks one SQL spelling on two engines; every other entry is a
  * DataFrame plan checked against its oracle text.
  */
object SparkEntry {

  private def allDefs: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Relational.defs ++ Ann.defs ++ Dedup.defs ++ TextAnalysis.defs ++ Events.defs ++
      Multimodal.defs ++ Pipeline.defs ++ Graph.defs

  require(allDefs.map(_._1).distinct.size == allDefs.size, "duplicate query names")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.defs.find(_._1 == "q25_tpch_q1").get._2(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map { case (n, q, _) => n -> q }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allDefs.collect { case (n, _, Some(sql)) => n -> sql }.toMap
}
