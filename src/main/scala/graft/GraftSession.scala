package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: every graft main and the test suite build
  * their session here, so the confs every session must carry cannot
  * drift between copies. A caller that needs a different value adds
  * `.config(...)` on the returned builder (a later `.config` wins).
  *
  *  - `local[cores]` with `shuffle.partitions = cores`
  *  - the library's own rules and functions ([[graft.plans.GraftExtensions]]),
  *    which also size Spark's JVM-wide compiled-class cache to graft's
  *    working set (`org.apache.spark.sql.graft.CodegenCache`) unless the
  *    Spark conf sets `spark.sql.codegen.cache.maxEntries`. The cache is
  *    sized once, when the builder installs the extension: a value given
  *    by `.config(...)` on this builder comes too late for the first
  *    session (set it in the SparkConf: spark-submit `--conf` or a
  *    `-Dspark.` system property), and a JVM that ran Spark codegen
  *    before any graft session keeps Spark's size
  *  - UTC session time zone
  *  - `nanosAsLong` + `inferTimestampNTZ=false`: the testdata carries
  *    TIMESTAMP(NANOS) or TIMESTAMP(MICROS, isAdjustedToUTC=false)
  *    columns depending on its generation; with both confs
  *    `ts`/`o_orderdate`/`l_shipdate` read as TIMESTAMP, never NTZ
  *    (`Tables.events` converts the nanos form to µs)
  *  - `maxPartitionBytes=4m`: split multi-file tables file-per-task
  *    instead of packing them back into one split. The default 128 MB
  *    packing collapses a 32-file gate table into ONE scan task and
  *    serializes every scan-bound per-row kernel (m04 measured 19× instead
  *    of ~4× at sf1.0); the production analog is sizing
  *    maxPartitionBytes to the cluster (SURVEY §5)
  *  - Spark UI off
  */
object GraftSession {
  def builder(appName: String, cores: Int): SparkSession.Builder = {
    SparkSession.builder()
      .appName(appName)
      .master(s"local[$cores]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.ui.enabled", "false")
  }
}
