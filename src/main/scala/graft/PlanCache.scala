package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.CommandResult

/** Plan-cache analog of the reference's
  * `andb/sql/optimizer/plan_cache/__init__.py` (an LRU of optimized
  * plans keyed by statement text).
  *
  * On Spark the expensive per-statement work is parse + analyze +
  * optimize; a `DataFrame` IS the reusable plan. Caching the DataFrame
  * per (session, current database, query text) makes repeated
  * submissions of the same text skip the whole front end — execution
  * still runs fresh each time (same as the reference, which caches
  * plans, not results). For result caching, the Spark-native seat is
  * `df.persist()` / materialized views — deliberately NOT conflated
  * with this.
  *
  * Keying and staleness:
  *   - The session component is the SparkSession OBJECT (identity), so
  *     two sessions never see each other's plans, and the current
  *     database is part of the key, so `USE db` switches never resolve
  *     a cached unqualified name against the wrong namespace.
  *   - Only queries are cached. A command (INSERT, CREATE/DROP VIEW,
  *     USE, ...) runs on every call — Spark executes it when the
  *     statement is analyzed, so a cached one would silently not run —
  *     and it drops the session's cached statement plans, since it may
  *     have changed what their names resolve to or the data they list.
  *     `Ddl.createTable` and `Ddl.alter*` re-register views and drop them
  *     too. A view replaced any other way (`createOrReplaceTempView` on
  *     a DataFrame) is not detected: call [[invalidate]] after it.
  *   - Path plans ([[path]]) are keyed by file path, which no view
  *     change touches, so statements and view re-registrations leave
  *     them in place.
  *
  * The LRU bound (`maxEntries`, TOTAL across sessions for a shared
  * instance) keeps a statement-generating workload from growing the
  * driver without bound; eviction also ages out entries -- and their
  * pinned session references -- once a session stops submitting.
  * Parameterized statements ([[graft.operators.RelationalSql.bind]])
  * cache naturally as ONE entry per text, not per binding: cache the
  * text, bind afterwards.
  */
class PlanCache(maxEntries: Int = 128) {
  /** `db` is the current database of a statement, None for a path. */
  private case class Key(session: SparkSession, db: Option[String], text: String)
  private val lru = new java.util.LinkedHashMap[Key, DataFrame](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, DataFrame]): Boolean =
      this.size() > maxEntries
  }
  private var hitCount = 0L
  private var missCount = 0L

  /** The cached analyzed/optimizable plan for query `text`, building it
    * on first sight. Thread-safe; same (session, database, text) ⇒ same
    * DataFrame object. The miss path runs spark.sql OUTSIDE the lock
    * (double-checked put): one slow parse/analyze must not serialize
    * every other session's cache hits — that would be the cache
    * blocking the very work it amortizes. A racing duplicate build is
    * possible and harmless (the first put wins). A command is run,
    * never cached, and drops the session's statement plans. */
  def sql(spark: SparkSession, text: String): DataFrame = {
    val key = Key(spark, Some(spark.catalog.currentDatabase), text)
    cached(key).getOrElse {
      val df = spark.sql(text)
      if (isCommand(df)) { dropStatements(spark); df } else store(key, df)
    }
  }

  /** Parameterized `text`, run uncached: the key is the text and the
    * bindings vary per call. A command still drops the session's
    * statement plans. */
  def sql(spark: SparkSession, text: String, params: Map[String, Any]): DataFrame = {
    val df = spark.sql(text, params)
    if (isCommand(df)) dropStatements(spark)
    df
  }

  /** Spark ran `df`'s statement as a command while analyzing it. */
  private def isCommand(df: DataFrame): Boolean =
    df.queryExecution.commandExecuted.isInstanceOf[CommandResult]

  /** The cached DataFrame for a parquet PATH (r14): a bare
    * `spark.read.parquet(p)` pays directory listing + footer schema
    * inference on EVERY call (~50–75 ms measured per table at sf0.1 —
    * OPTIMIZATION_r14.md §5), which a metastore-backed deployment pays once
    * at registration; this is that catalog seam for the path-addressed
    * testdata tables (the reference resolves every table through
    * andb/catalog the same way). Same contract as [[sql]]: the PLAN is
    * reused, execution runs fresh each time (re-reads the parquet
    * data); result caching stays deliberately out of scope. Staleness
    * caveat as for DDL: a path REWRITTEN mid-session must be
    * [[invalidate]]d (the repo's generators write corpora before any
    * session reads them, and the managed-table paths never route
    * through this). */
  def path(spark: SparkSession, p: String): DataFrame = {
    val key = Key(spark, None, p)
    cached(key).getOrElse(store(key, spark.read.parquet(p)))
  }

  /** The hit half of the double-checked lookup behind [[sql]] and
    * [[path]]; their build runs outside the lock, only on a miss. */
  private def cached(key: Key): Option[DataFrame] = synchronized {
    val df = lru.get(key)
    if (df != null) hitCount += 1
    Option(df)
  }

  /** The miss half: keep `df` unless a racing build stored one first. */
  private def store(key: Key, df: DataFrame): DataFrame = synchronized {
    val raced = lru.get(key)
    if (raced != null) { hitCount += 1; raced }
    else { missCount += 1; lru.put(key, df); df }
  }

  /** Drop every entry belonging to `spark` — call after replacing a view
    * outside graft's DDL, after rewriting a cached path, or before
    * stopping the session. */
  def invalidate(spark: SparkSession): Unit = synchronized {
    lru.keySet().removeIf(_.session eq spark)
  }

  /** Drop `spark`'s statement plans, keeping its path plans. */
  private[graft] def dropStatements(spark: SparkSession): Unit = synchronized {
    lru.keySet().removeIf(k => (k.session eq spark) && k.db.isDefined)
  }

  def hits: Long = synchronized(hitCount)
  def misses: Long = synchronized(missCount)
  def size: Int = synchronized(lru.size())
  def clear(): Unit = synchronized { lru.clear(); hitCount = 0; missCount = 0 }
}

object PlanCache extends PlanCache(128)
