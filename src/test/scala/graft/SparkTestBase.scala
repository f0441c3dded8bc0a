package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs that need a cluster-shaped plan
  * (multiple partitions, real shuffles) while staying fast.
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  val sfDir = "/root/testdata/sf0.001"
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** An empty dir for a spec's files, in the shared session's scratch
    * ([[Fs.scratch]]), so it goes with the run root when the JVM
    * exits. Each call site needs its own name: a second call with the
    * same name empties the dir.
    */
  def tempDir(name: String): java.nio.file.Path =
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(Fs.scratch(session, name)))
}
