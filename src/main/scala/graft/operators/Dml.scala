package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DML semantics over immutable columnar data.
  *
  * The reference mutates heap pages in place (andb/executor/operator/
  * physical/insert.py, delete.py, update.py over andb/storage/engines/heap).
  * On Spark the idiomatic equivalent is a plan rewrite over immutable
  * parquet — the copy-on-write pattern every lakehouse table format uses:
  *   INSERT  -> union of the base relation with the new rows
  *   DELETE  -> null-safe anti-filter of the predicate
  *   UPDATE  -> per-column conditional projection
  * At 100 TB these rewrites stay fully distributed (no driver round-trip)
  * and write back partition-pruned: only affected partitions rewrite.
  */
object Dml {

  /** INSERT INTO base VALUES rows — rows are (key, value) pairs matching
    * the base schema; types are cast to the base schema so the union is
    * by-position-safe. */
  def insert(base: DataFrame, rows: Seq[(Int, String)], spark: SparkSession): DataFrame = {
    import spark.implicits._
    val cols = base.columns
    val fresh = rows.toDF(cols.toIndexedSeq: _*)
    val aligned = fresh.select(base.schema.fields.toIndexedSeq.map(f => col(f.name).cast(f.dataType)): _*)
    base.union(aligned)
  }

  /** DELETE FROM base WHERE cond. SQL DELETE removes only rows where the
    * predicate is TRUE; rows where it is NULL survive — hence the
    * null-safe keep-filter (NOT cond OR cond IS NULL). */
  def delete(base: DataFrame, cond: Column): DataFrame =
    base.filter(!cond || cond.isNull)

  /** MERGE INTO base USING updates ON key — upsert: rows present in
    * `updates` replace base rows with the same key; new keys append. The
    * lakehouse MERGE, as one full-outer join + per-column coalesce —
    * fully distributed, and at 100 TB the join partition-prunes to the
    * touched partitions when both sides share the key layout. */
  def merge(base: DataFrame, updates: DataFrame, key: String): DataFrame = {
    val b = base.alias("b")
    val u = updates.alias("u")
    b.join(u, col(s"b.$key") === col(s"u.$key"), "full_outer")
      .select(base.columns.toIndexedSeq.map { c =>
        if (updates.columns.contains(c)) coalesce(col(s"u.$c"), col(s"b.$c")).as(c)
        else col(s"b.$c")
      }: _*)
  }

  /** UPDATE base SET col = expr, ... WHERE cond — conditional projection;
    * untouched columns pass through, preserving schema and column order. */
  def update(base: DataFrame, cond: Column, sets: Map[String, Column]): DataFrame = {
    val projected = base.columns.map { c =>
      sets.get(c) match {
        case Some(expr) => when(cond, expr).otherwise(col(c)).as(c)
        case None       => col(c)
      }
    }
    base.select(projected.toIndexedSeq: _*)
  }
}
