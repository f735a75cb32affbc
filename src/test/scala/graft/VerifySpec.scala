package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The correctness dump reports what failed instead of swallowing it. */
class VerifySpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def withOutDir(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-verify").toFile
    try body(dir.getPath)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("a query that throws is reported as failed and oracle_sql.json is still written") {
    withOutDir { out =>
      val failed = Verify.dump(spark, "/nonexistent/graft-testdata", out,
        Set("q01_scan_filter_project", "q26_dml_insert"))
      assert(failed == Seq("q01_scan_filter_project", "q26_dml_insert"))
      assert(new File(s"$out/oracle_sql.json").isFile)
      assert(!new File(s"$out/q01_scan_filter_project").exists())
    }
  }

  test("an unknown query name is rejected before anything is dumped") {
    withOutDir { out =>
      val e = intercept[IllegalArgumentException](
        Verify.dump(spark, TestSpark.sf, out, Set("q01_scan_filter_project", "q00_no_such_query")))
      assert(e.getMessage.contains("q00_no_such_query"))
      assert(new File(out).list().isEmpty)
    }
  }
}
