package graft

import org.apache.spark.sql.SparkSession

/** one shared local session for all Spark specs */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** one root per test run holds every tmpDir; it is deleted with its
    * contents when the JVM exits (File.deleteOnExit removes only empty
    * dirs, so per-dir registration left every index behind) */
  private lazy val runRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft-test-run")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile): Unit))
    root
  }

  def tmpDir(name: String): String =
    java.nio.file.Files.createTempDirectory(runRoot, s"graft-$name").toFile.getAbsolutePath
}
