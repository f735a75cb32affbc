package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** In-process checks of the benchmark's own statistics and digests. The
  * end-to-end checks (a perturbed digest fails the run, an injected
  * failure raises failed_frac) run whole benchmark processes from
  * perfbench/selftest.py. */
object SelfTest {
  private var failures = 0

  private def expect(what: String, cond: Boolean): Unit = {
    println(s"selftest: ${if (cond) "ok  " else "FAIL"} $what")
    if (!cond) failures += 1
  }

  def run(args: Args): Int = {
    val xs = (1 to 100).map(_.toDouble)
    expect("p90 of 1..100 is 90 (10 samples beyond it)", Stats.percentile(xs, 90).contains(90.0))
    expect("p95 of 1..100 is not reported (5 samples beyond it)", Stats.percentile(xs, 95).isEmpty)
    expect("highest reportable percentile of 1..100 is p90 = 90",
      Stats.highestReportable(xs).contains((90.0, 90.0)))
    expect("highest reportable percentile of 1..40 is p75 = 30",
      Stats.highestReportable(xs.take(40)).contains((75.0, 30.0)))
    expect("no percentile of 19 samples is reportable", Stats.highestReportable(xs.take(19)).isEmpty)
    expect("p50 of 1..20 is 10", Stats.percentile(xs.take(20), 50).contains(10.0))

    val schema = StructType(Seq(StructField("k", LongType), StructField("v", DoubleType)))
    val rows = Array(Row(1L, 0.1 + 0.2), Row(2L, 2.5), Row(2L, 2.5))
    val d = Digest.of(schema, rows)
    expect("digest ignores row order", Digest.of(schema, rows.reverse) == d)
    expect("digest ignores last-ulp float drift", Digest.of(schema, Array(Row(1L, 0.3), Row(2L, 2.5), Row(2L, 2.5))) == d)
    expect("digest sees a changed value", Digest.of(schema, Array(Row(1L, 0.3), Row(2L, 2.6), Row(2L, 2.5))) != d)
    expect("digest sees a dropped duplicate", Digest.of(schema, rows.take(2)) != d)
    expect("digest sees a renamed column",
      Digest.of(StructType(Seq(StructField("k", LongType), StructField("w", DoubleType))), rows) != d)
    expect("digest carries the row count", Digest.rowCount(d) == 3)
    println(s"selftest: ${if (failures == 0) "all passed" else s"$failures failed"}")
    if (failures == 0) 0 else 1
  }
}
