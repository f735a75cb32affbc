package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB compare (tools/local_verify.py).
  * Exits 1 when any query failed to dump, and 2, printing its usage,
  * when given fewer than two arguments. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [query,query,...]")
      sys.exit(2)
    }
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: comma-separated query names — dump only those
    // (fast single-operator iteration through tools/local_verify.py).
    val only: Set[String] = args.drop(2).headOption
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty)
    val spark = GraftSession.builder("graft-verify", Bench.cpusFromEnv()).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val failed = try dump(spark, sfDir, outDir, only) finally spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }

  /** Dumps every registered query (or only the named ones) under
    * `outDir` and writes oracle_sql.json; returns the names of the
    * queries that threw, each reported on stderr with its exception
    * class while the rest still dump. A name in `only` that is not a
    * registered query is rejected before anything is dumped. */
  def dump(spark: SparkSession, sfDir: String, outDir: String, only: Set[String]): Seq[String] = {
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"not registered queries: ${unknown.toSeq.sorted.mkString(",")}")
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .flatMap { case (name, fn) =>
        // repartition(1), not coalesce(1): one output file for DuckDB,
        // but computed at scan parallelism — coalesce pulled map-only
        // queries' whole kernel pass into the single writer task.
        try {
          fn(spark, sfDir).repartition(1).write.mode("overwrite").parquet(s"$outDir/$name")
          None
        } catch { case NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getClass.getName}: ${e.getMessage}")
          Some(name)
        }
      }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    failed
  }
}
