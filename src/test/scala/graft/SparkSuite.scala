package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(appName = "graft-test")
    // The suites intentionally run tiny (<=256-row) global-window final
    // merges; WindowExec's single-partition WARN is correct advice at
    // scale but pure noise here, and thousands of repeats bury real
    // warnings in the CI log. Silence exactly that logger.
    org.apache.log4j.Logger
      .getLogger("org.apache.spark.sql.execution.window.WindowExec")
      .setLevel(org.apache.log4j.Level.ERROR)
    s
  }

  lazy val sf: String = "/root/testdata/sf0.001"

  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
