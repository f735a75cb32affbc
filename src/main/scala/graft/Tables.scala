package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Schema-checked loaders for the driver-generated testdata tables.
  *
  * The reference engine (andb/catalog/class_.py, andb/storage/engines/heap/
  * relation.py) resolves tables through a catalog onto heap files; on Spark
  * the catalog is the parquet directory and the "heap" is columnar parquet,
  * which gives us column pruning + predicate pushdown for free.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Loads resolve through [[PlanCache.path]] (r14): the DataFrame —
    * the analyzed plan, NOT data — is cached per (session, path), so a
    * bench/verify run stops re-paying directory listing + parquet
    * footer schema inference on every one of its ~1000 query
    * evaluations (~50–75 ms per call, measured). Execution semantics
    * are unchanged: each Dataset built on the scan plans its own
    * QueryExecution, so every action scans the parquet files fresh.
    * This is the metastore seam a production catalog provides. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    PlanCache.path(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** A table by name, in the logical schema SQL text sees: the one loader
    * `Ddl.createTable` and the SQL binder share.
    *
    * The testdata's events.parquet comes in two encodings:
    * ts as TIMESTAMP(NANOS) — which Spark's reader rejects, so sessions
    * set spark.sql.legacy.parquet.nanosAsLong and it surfaces as
    * nanos-since-epoch, converted here with integer `div` (a double
    * division would lose precision above 2^53 ns) — and as plain
    * TIMESTAMP(MICROS, isAdjustedToUTC=false). For the latter, sessions
    * set spark.sql.parquet.inferTimestampNTZ.enabled=false so every
    * timestamp column (ts, o_orderdate, l_shipdate) reads as a session-TZ
    * TIMESTAMP under the UTC session — identical micros, and the type
    * unix_micros/watermarks require. */
  def table(s: SparkSession, d: String, name: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val raw = load(s, d, name)
    if (name == "events" && raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }
  def events(s: SparkSession, d: String): DataFrame = table(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
