package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite. */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
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

  private val tempDirs = scala.collection.mutable.ArrayBuffer[java.io.File]()

  /** A fresh directory under the JVM temp dir, deleted after the suite. */
  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    tempDirs += d
    d.toString
  }

  override def afterAll(): Unit =
    try tempDirs.foreach(org.apache.commons.io.FileUtils.deleteDirectory)
    finally super.afterAll()
}
