package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Path-plan cache: the analyzed scan DataFrame of a parquet PATH per
  * session. A bare `spark.read.parquet(p)` pays directory listing +
  * footer schema inference on EVERY call (~50–75 ms measured per table
  * at sf0.1 — OPTIMIZATION_r14.md §5), which a metastore-backed
  * deployment pays once at registration; this is that catalog seam for
  * the path-addressed testdata tables (the reference resolves every
  * table through andb/catalog the same way). Every Dataset built on a
  * cached scan gets its own QueryExecution, so every action re-reads the
  * parquet files. A path rewritten mid-session keeps its cached schema
  * and file listing: the repo's generators write corpora before any
  * session reads them, and the managed-table paths never route through
  * this.
  *
  * Statement text is NOT cached (the reference's
  * `andb/sql/optimizer/plan_cache` keys optimized plans by text). A
  * reused DataFrame reuses its QueryExecution, and with it the shuffle
  * output its first action materialized: a second `collect()` skips the
  * stages below the shuffle and returns the first run's rows, whether a
  * view was replaced or rows were appended since. A statement hit was a
  * result cache at the shuffle boundary, so [[graft.sql]] plans every
  * statement fresh.
  *
  * The session component of the key is the SparkSession OBJECT
  * (identity), so two sessions never see each other's plans. The LRU
  * bound (`maxEntries`, TOTAL across sessions for a shared instance)
  * keeps the driver bounded; eviction also ages out entries -- and
  * their pinned session references -- once a session stops loading. */
class PlanCache(maxEntries: Int = 128) {
  private case class Key(session: SparkSession, path: String)
  private val lru = new java.util.LinkedHashMap[Key, DataFrame](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, DataFrame]): Boolean =
      this.size() > maxEntries
  }
  private var hitCount = 0L
  private var missCount = 0L

  /** The cached DataFrame for parquet path `p`, reading it on first
    * sight. Thread-safe; same (session, path) ⇒ same DataFrame object.
    * The miss path runs the read OUTSIDE the lock (double-checked put):
    * one slow listing must not serialize every other session's hits. A
    * racing duplicate read is possible and harmless (the first put
    * wins). */
  def path(spark: SparkSession, p: String): DataFrame = {
    val key = Key(spark, p)
    val hit = synchronized {
      val df = lru.get(key)
      if (df != null) hitCount += 1
      df
    }
    if (hit != null) hit
    else {
      val df = spark.read.parquet(p)
      synchronized {
        val raced = lru.get(key)
        if (raced != null) { hitCount += 1; raced }
        else { missCount += 1; lru.put(key, df); df }
      }
    }
  }

  def hits: Long = synchronized(hitCount)
  def misses: Long = synchronized(missCount)
  def size: Int = synchronized(lru.size())
}

object PlanCache extends PlanCache(128)
