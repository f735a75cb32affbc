package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Plan-cache analog of the reference's
  * `andb/sql/optimizer/plan_cache/__init__.py` (an LRU of optimized
  * plans keyed by statement text).
  *
  * On Spark the expensive per-statement work is parse + analyze +
  * optimize; a `DataFrame` IS the reusable plan. Caching the DataFrame
  * per (session, current database, statement text) makes repeated
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
  *   - DDL that redefines a table the cached plan references (DROP +
  *     re-CREATE with a new schema) is NOT auto-detected — the same
  *     limitation the reference's cache has. Call [[invalidate]] after
  *     schema-changing DDL (graft's own Ddl.alter* helpers re-register
  *     views, which callers should follow with invalidate()).
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
  private case class Key(session: SparkSession, db: String, text: String)
  private val lru = new java.util.LinkedHashMap[Key, DataFrame](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, DataFrame]): Boolean =
      this.size() > maxEntries
  }
  private var hitCount = 0L
  private var missCount = 0L

  /** The cached analyzed/optimizable plan for `text`, building it on
    * first sight. Thread-safe; same (session, database, text) ⇒ same
    * DataFrame object. The miss path runs spark.sql OUTSIDE the lock
    * (double-checked put): one slow parse/analyze must not serialize
    * every other session's cache hits — that would be the cache
    * blocking the very work it amortizes. A racing duplicate build is
    * possible and harmless (last put wins). */
  def sql(spark: SparkSession, text: String): DataFrame =
    lookup(Key(spark, spark.catalog.currentDatabase, text), spark.sql(text))

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
  def path(spark: SparkSession, p: String): DataFrame =
    lookup(Key(spark, "", "path:" + p), spark.read.parquet(p))

  /** The double-checked LRU lookup behind [[sql]] and [[path]]: `build`
    * runs outside the lock, only on a miss. */
  private def lookup(key: Key, build: => DataFrame): DataFrame = {
    synchronized {
      val cached = lru.get(key)
      if (cached != null) { hitCount += 1; return cached }
    }
    val df = build
    synchronized {
      val cached = lru.get(key)
      if (cached != null) { hitCount += 1; cached }
      else { missCount += 1; lru.put(key, df); df }
    }
  }

  /** Drop every entry belonging to `spark` — call after schema-changing
    * DDL or before stopping the session. */
  def invalidate(spark: SparkSession): Unit = synchronized {
    lru.keySet().removeIf(_.session eq spark)
  }

  def hits: Long = synchronized(hitCount)
  def misses: Long = synchronized(missCount)
  def size: Int = synchronized(lru.size())
  def clear(): Unit = synchronized { lru.clear(); hitCount = 0; missCount = 0 }
}

object PlanCache extends PlanCache(128)
