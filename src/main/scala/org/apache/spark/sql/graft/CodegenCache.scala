// Lives under org.apache.spark.sql because SparkContext.getActive is
// private[spark].
package org.apache.spark.sql.graft

import org.apache.spark.{SparkConf, SparkContext}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}

/** Sizes Spark's compiled-class cache for graft's working set.
  *
  * Spark keeps generated classes in one JVM-wide LRU cache whose size,
  * the static conf `spark.sql.codegen.cache.maxEntries` (default 100),
  * `CodeGenerator`'s object initializer reads exactly once. graft's
  * queries compile more distinct classes than that, so a warm pass
  * evicted and recompiled its own code. [[sizeOnce]] forces that
  * initializer under a conf carrying [[entries]], before any graft
  * session plans a query; [[graft.plans.GraftExtensions]] calls it, so
  * every session that installs the extension gets it.
  *
  * First touch wins: in a JVM that ran Spark codegen before any graft
  * session, the cache already has Spark's size and this is a no-op.
  */
object CodegenCache {

  /** graft's size. graft.Bench over all 254 queries with the cache
    * unbounded compiles 2,377 distinct classes: 2,274 in the sf0.001
    * warm-up, 93 more in one sf0.1 pass (literals that depend on the
    * data), 10 for its probes. 4,096 leaves room for the classes
    * another scale or a user's own queries add. Keeping all of them
    * cost 67 MB more heap and 17 MB more metaspace after GC than Spark's
    * 100 entries, at the end of that run. */
  val GraftEntries: Int = 4096

  /** The cache size to use: the value of Spark's own
    * `spark.sql.codegen.cache.maxEntries` when the Spark conf sets it
    * (parsed and checked as Spark does), else [[GraftEntries]]. */
  def entries(sparkConfValue: Option[String]): Int =
    sparkConfValue.fold(GraftEntries)(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.valueConverter)

  private lazy val sized: Int = {
    // The extension may run before the session's SparkContext exists
    // (`withExtensions` applies it at builder time); the SparkConf it will
    // start from then carries the same spark-submit / system-property value.
    val conf = SparkContext.getActive.map(_.conf).getOrElse(new SparkConf)
    val n = entries(conf.getOption(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key))
    val sqlConf = new SQLConf
    sqlConf.setConf(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES, n)
    val generator = classOf[CodeGenerator[_, _]]
    SQLConf.withExistingConf(sqlConf) {
      Class.forName(generator.getName + "$", true, generator.getClassLoader)
    }
    n
  }

  /** Initializes `CodeGenerator` with [[entries]] once per JVM; returns
    * the size asked for. */
  def sizeOnce(): Int = sized
}
