package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** The reference's DDL surface (CREATE/DROP/ALTER TABLE, CREATE INDEX,
  * andb/sql/parser/lexer.py:13-17) and its ANALYZE-style statistics
  * collection (andb/sql/optimizer/statistic/) mapped onto Spark's
  * catalog. The statements Spark speaks itself — CREATE/DROP VIEW,
  * CREATE/DROP DATABASE, USE — are text through [[graft.sql]]; this
  * object holds only what Spark's SQL does not say.
  *
  * On Spark + parquet the catalog entry IS the table: registering a
  * parquet path as a view gives scans with pushdown and pruning; "CREATE
  * INDEX" has no direct analog because the columnar format already
  * carries min/max page stats — the honest mapping is sort-order layout
  * (Z-order/cluster-by at write time), which `indexHint` documents.
  * ALTER TABLE on immutable parquet is a catalog-only projection change
  * (rename/add/drop re-register the same scan under the same name — zero
  * data rewrite, exactly the reference's catalog-entry update). ANALYZE
  * runs Spark's own `ANALYZE TABLE` so the cost model (broadcast
  * decisions, CBO join reorder) gets real row counts instead of file-size
  * guesses — the Spark seat of the reference's statistics module. */
object Ddl {

  /** Backtick-quote an identifier for splicing into SQL text — the only
    * safe way to interpolate a caller-supplied name (a raw splice lets a
    * name with backticks/semicolons break out of the statement; CASCADE
    * forms would then execute unintended SQL). */
  private[graft] def ident(name: String): String =
    "`" + name.replace("`", "``") + "`"

  /** Single-quote a string literal (paths) for SQL text. */
  private def strLit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** CREATE TABLE t AS <parquet dir>/name.parquet. The catalog exposes the
    * LOGICAL schema: events' TIMESTAMP(NANOS) storage quirk is normalized
    * to a timestamp here (Tables.table), exactly as the reference's
    * catalog maps storage types to query types (andb/catalog/type.py) —
    * SQL text over `events` sees `ts` as a timestamp, not raw nanos.
    * The scan underneath is the session's cached path plan
    * ([[Tables.load]]); queries over the view plan fresh. */
  def createTable(spark: SparkSession, name: String, sfDir: String): Unit =
    register(spark, name, Tables.table(spark, sfDir, name))

  /** (Re-)register `df` as view `name`; the next statement over `name`
    * is planned against it. */
  private def register(spark: SparkSession, name: String, df: DataFrame): DataFrame = {
    df.createOrReplaceTempView(name)
    df
  }

  /** CREATE INDEX analog: on immutable parquet the "index" is data
    * layout. Returns the writer-side recipe (sort columns) that makes the
    * reference's `CREATE INDEX idx ON t (c)` scans partition/row-group
    * prunable; a no-op on already-written test data. */
  def indexHint(cols: Seq[String]): String =
    s"write-time layout: df.sortWithinPartitions(${cols.mkString(", ")}) " +
      "(+ partitionBy / bucketBy for equality keys) — parquet min/max " +
      "page stats then prune scans the way a B+-tree index would"

  /** Register all testdata tables so `spark.sql` works by name. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    Tables.names.foreach(createTable(spark, _, sfDir))

  // ---- ALTER TABLE analogs (catalog-only; no data rewrite) -------------

  /** ALTER TABLE name RENAME COLUMN from TO to. */
  def alterRenameColumn(spark: SparkSession, name: String, from: String, to: String): DataFrame =
    register(spark, name, spark.table(name).withColumnRenamed(from, to))

  /** ALTER TABLE name ADD COLUMN colName AS expr (expr supplies the
    * value for existing rows — the parquet files are never rewritten). */
  def alterAddColumn(spark: SparkSession, name: String, colName: String, expr: Column): DataFrame =
    register(spark, name, spark.table(name).withColumn(colName, expr))

  /** ALTER TABLE name DROP COLUMN colName. */
  def alterDropColumn(spark: SparkSession, name: String, colName: String): DataFrame =
    register(spark, name, spark.table(name).drop(colName))

  // ---- CREATE INDEX ... USING <type> → ANN index layouts ---------------
  // The reference's parser accepts an index METHOD
  // (andb/sql/parser/parser_.py:554 `create index idx on t using lsh (c)`)
  // and CreateIndexOperator builds it
  // (andb/executor/operator/physical/utility.py:11); its planner then
  // serves matching predicates from an IndexScan. Graft's equivalent
  // end-to-end story: createIndex writes the corresponding AnnIndex
  // LAYOUT (IVF partition directories / LSH bucketed band table), records
  // it in a registry, and probeIndex routes a query through the pruned
  // probe path — DDL in, pruned IndexScan out, demonstrated on executed
  // plans in DdlSpec.

  /** What a DDL-created index is made of: the layout location plus the
    * model state its probe needs (centroids / band geometry) — the
    * catalog row the reference keeps for an index OID. */
  sealed trait IndexDef { def table: String; def using: String }
  /** `schema` is the layout's read-back schema, recorded at CREATE
    * INDEX so a probe plans without a footer-inference job. */
  final case class IvfIndexDef(table: String, path: String,
      cents: Array[Array[Float]], schema: StructType) extends IndexDef { val using = "ivf" }
  /** Unlike IVF's plain-array model state, an LSH probe's exact re-rank
    * needs the FULL vectors (the band table stores only ids) — so
    * createIndex also registers the vectors as a catalog table
    * (`vectorsTable`, bucketed by vec_id so the re-rank join is
    * exchange-free on the candidate side's key) and the descriptor
    * holds only NAMES. Nothing session-bound lives in the registry:
    * both tables resolve from whatever session probes, and the creating
    * session's plans are not pinned for the JVM lifetime. */
  final case class LshIndexDef(table: String, catalogTable: String,
      vectorsTable: String, bandBits: Int, nBands: Int) extends IndexDef {
    val using = "lsh"
  }
  final case class IvfPqIndexDef(table: String, path: String,
      cents: Array[Array[Float]], books: Array[Float],
      m: Int, ksub: Int) extends IndexDef { val using = "ivfpq" }

  private val indexes =
    new java.util.concurrent.ConcurrentHashMap[String, IndexDef]()

  /** CREATE INDEX name ON <df> USING ivf|lsh. `df` must expose
    * (vec_id, embedding) — the engine's vector-table contract. IVF
    * trains k centroids and writes the partitionBy(cell) directory
    * layout at `location`; LSH writes the packed-band bucket table
    * under the session catalog. Overwrites an existing index of the
    * same name (idempotent re-runs, like every graft writer). */
  def createIndex(spark: SparkSession, name: String, df: DataFrame,
      using: String, location: String, k: Int = 16, buckets: Int = 8,
      bandBits: Int = 8, nBands: Int = 8): IndexDef = {
    val d = using.toLowerCase match {
      case "ivf" =>
        val cents = graft.operators.AnnIndex.trainCentroids(df, k)
        IvfIndexDef(name, location, cents,
          graft.operators.AnnIndex.writeIvf(df, cents, location))
      case "lsh" =>
        val cat = s"${name}_bands"
        val vecs = s"${name}_vectors"
        // Idempotence across JVMs, not just catalog entries: a managed
        // CTAS refuses a stale warehouse DIRECTORY left by a dead
        // process (LOCATION_ALREADY_EXISTS) even when the in-memory
        // catalog is empty — so re-running CREATE INDEX must clear both
        // the entry and the location.
        Seq(cat, vecs).foreach(dropManagedTable(spark, _))
        graft.operators.AnnIndex.writeLsh(df, bandBits, nBands, cat, buckets)
        graft.sources.Io.writeBucketedBy(
          df.select(col("vec_id"), col("embedding")), vecs, Seq("vec_id"), buckets)
        LshIndexDef(name, cat, vecs, bandBits, nBands)
      case "ivfpq" =>
        // The composed 100 TB layout: IVF directory pruning × a
        // codes-only ADC scan × exact re-rank (AnnIndex.writeIvfPq).
        val m = 8; val ksub = 32
        val cents = graft.operators.AnnIndex.trainCentroids(df, k)
        val books = graft.operators.Pq.train(df, m, ksub)
        graft.operators.AnnIndex.writeIvfPq(df, cents, books, m, ksub, location)
        IvfPqIndexDef(name, location, cents, books, m, ksub)
      case other => throw new IllegalArgumentException(
        s"unknown index method '$other' (supported: ivf, lsh, ivfpq)")
    }
    indexes.put(name, d)
    d
  }

  /** The warehouse location of a table named `name`:
    * `<warehouse dir>/<name lower-cased>`, where Spark puts a managed
    * table and graft puts a path-addressed table it names. */
  private[graft] def warehousePath(spark: SparkSession, name: String): String =
    new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), name.toLowerCase).toString

  /** Drop a MANAGED table's catalog entry and its warehouse location,
    * whether or not the entry survived the JVM that created it. */
  private[graft] def dropManagedTable(spark: SparkSession, name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${ident(name)}")
    val loc = new org.apache.hadoop.fs.Path(warehousePath(spark, name))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    ()
  }

  /** DROP INDEX name — deregisters; layout files are left for the
    * storage layer (same as the catalog-only reference drop). */
  def dropIndex(name: String): Boolean = indexes.remove(name) != null

  def describeIndex(name: String): Option[IndexDef] = Option(indexes.get(name))

  /** The IndexScan seat: route a top-k vector query through whichever
    * index layout the DDL created — IVF directory-pruned probe or LSH
    * bucket-pruned probe — without the caller knowing the method. */
  def probeIndex(spark: SparkSession, name: String, qv: Array[Float],
      k: Int, nProbe: Int = 4): DataFrame = Option(indexes.get(name)) match {
    case Some(IvfIndexDef(_, path, cents, schema)) =>
      graft.operators.AnnIndex.probeIvf(spark, path, qv, cents, nProbe, k, Some(schema))
    case Some(l: LshIndexDef) =>
      graft.operators.AnnIndex.probeLsh(
        spark, l.catalogTable, spark.table(l.vectorsTable), qv,
        l.bandBits, l.nBands, k)
    case Some(p: IvfPqIndexDef) =>
      graft.operators.AnnIndex.probeIvfPq(spark, p.path, qv, p.cents,
        p.books, p.m, p.ksub, nProbe, rerank = math.max(8 * k, 64), k)
    case None => throw new IllegalArgumentException(s"no such index: $name")
  }

  // ---- ANALYZE (optimizer statistics) ----------------------------------

  /** ANALYZE TABLE analog: registers the parquet directory as a catalog
    * table (temp views cannot hold stats) and runs Spark's native
    * `ANALYZE TABLE ... COMPUTE STATISTICS [FOR COLUMNS ...]`. Returns
    * (sizeInBytes, rowCount) as the optimizer will now see them — the
    * inputs that flip a join to broadcast and order a CBO multi-join.
    * Mirrors the reference's statistics module
    * (andb/sql/optimizer/statistic/), which feeds its cost model the
    * same table cardinalities. */
  def analyzeTable(spark: SparkSession, name: String, sfDir: String,
      cols: Seq[String] = Nil): (BigInt, Option[BigInt]) = {
    val cat = ident(s"${name}_analyzed")
    spark.sql(s"DROP TABLE IF EXISTS $cat")
    spark.sql(s"CREATE TABLE $cat USING parquet LOCATION ${strLit(s"$sfDir/$name.parquet")}")
    spark.sql(s"ANALYZE TABLE $cat COMPUTE STATISTICS")
    if (cols.nonEmpty)
      spark.sql(s"ANALYZE TABLE $cat COMPUTE STATISTICS FOR COLUMNS ${cols.map(ident).mkString(", ")}")
    // Catalog truth (plan-level stats only carry rowCount under CBO).
    val statsLine = spark.sql(s"DESCRIBE TABLE EXTENDED $cat").collect()
      .find(_.getString(0) == "Statistics").map(_.getString(1)).getOrElse("")
    val bytes = "([0-9]+) bytes".r.findFirstMatchIn(statsLine).map(m => BigInt(m.group(1)))
    val rows = "([0-9]+) rows".r.findFirstMatchIn(statsLine).map(m => BigInt(m.group(1)))
    (bytes.getOrElse(BigInt(0)), rows)
  }
}
