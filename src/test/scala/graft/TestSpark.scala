package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.{BucketingUtils, FilePartition}

/** One shared session for the whole suite — built by [[GraftSession]], so
  * every spec runs under the same confs as the mains and under the
  * injected functions + optimizer rule (which must be
  * semantics-preserving; ExtensionsSpec asserts they fire). */
object TestSpark extends AdaptiveSparkPlanHelper {
  lazy val spark: SparkSession = GraftSession.builder("graft-test", 4).getOrCreate()

  val sf: String = "/root/testdata/sf0.001"

  /** (buckets read, buckets in the table) for catalog table `table` in
    * `df`'s executed plan: the bucket ids of the files in the input
    * partitions of the table's scans, after partition and bucket pruning,
    * against those of all the table's files. EXPLAIN prints
    * `SelectedBucketsCount` only for a bucketed scan; a scan of a bucketed
    * table whose bucketed read the planner turned off still drops the
    * files outside the pruned bucket set. */
  def bucketsRead(df: DataFrame, table: String): (Int, Int) = {
    def ids(files: Iterable[String]): Set[Int] =
      files.flatMap(f => BucketingUtils.getBucketId(new org.apache.hadoop.fs.Path(f).getName)).toSet
    val read = collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec if s.tableIdentifier.exists(_.table == table) =>
        s.inputRDD.partitions.toSeq.flatMap { case p: FilePartition => p.files.toSeq }
    }.flatten.map(_.filePath.toString)
    (ids(read).size, ids(df.sparkSession.table(table).inputFiles).size)
  }
}
