// Lives under org.apache.spark.sql because SparkSession.sessionState and
// the classic session are private[sql] in Spark 4.
package org.apache.spark.sql.graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, InsertIntoHadoopFsRelationCommand}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Bucketed parquet files by path, with no catalog entry.
  *
  * `DataFrameWriter` refuses `bucketBy` outside `saveAsTable`, but the
  * command `saveAsTable` runs, `InsertIntoHadoopFsRelationCommand`, takes
  * a bucket spec and no table. The files it writes carry their bucket id
  * in their names, so a `HadoopFsRelation` that carries the same spec
  * reads them as a bucketed scan: a join or aggregate on the bucket key
  * plans no exchange on that side, and an equality filter on a
  * single-column key reads only the matching bucket's files.
  */
object BucketedFiles {

  /** Write `df` under `dir` (replacing what is there) as parquet files
    * bucketed and sorted by `spec`: each write task emits one file per
    * bucket id it holds. */
  def write(df: DataFrame, dir: String, spec: BucketSpec): Unit = {
    val session = df.sparkSession.asInstanceOf[SparkSession]
    val path = new Path(dir)
    val query = df.queryExecution.analyzed
    val cmd = InsertIntoHadoopFsRelationCommand(
      outputPath = path.getFileSystem(session.sessionState.newHadoopConf())
        .makeQualified(path),
      staticPartitions = Map.empty,
      ifPartitionNotExists = false,
      partitionColumns = Nil,
      bucketSpec = Some(spec),
      fileFormat = new ParquetFileFormat,
      options = Map.empty,
      query = query,
      mode = SaveMode.Overwrite,
      catalogTable = None,
      fileIndex = None,
      outputColumnNames = query.output.map(_.name))
    session.sessionState.executePlan(cmd).assertCommandExecuted()
  }

  /** Read the files under `dirs` as one relation with `schema`, bucketed
    * by `spec`. All directories must have been written under the same
    * spec: a bucket's files from every directory form that bucket. */
  def read(spark: org.apache.spark.sql.SparkSession, dirs: Seq[String],
      schema: StructType, spec: BucketSpec): DataFrame = {
    val session = spark.asInstanceOf[SparkSession]
    val index = new InMemoryFileIndex(session, dirs.map(new Path(_)), Map.empty, Some(schema))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, new StructType(), schema,
      Some(spec), new ParquetFileFormat, Map.empty)(session))
  }
}
