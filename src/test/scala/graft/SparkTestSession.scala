package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession for the whole test JVM (sbt forks one test JVM). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `f` on a fresh temp dir named `<prefix><random>` and deletes
    * the dir afterwards, whether `f` returns or throws.
    */
  def withTempDir[A](prefix: String)(f: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    try f(dir.getPath)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }
}
