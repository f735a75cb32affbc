package graft

import org.apache.spark.sql.SparkSession

/** One shared session for the whole suite — built by [[GraftSession]], so
  * every spec runs under the same confs as the mains and under the
  * injected functions + optimizer rule (which must be
  * semantics-preserving; ExtensionsSpec asserts they fire). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.builder("graft-test", 4).getOrCreate()

  val sf: String = "/root/testdata/sf0.001"
}
