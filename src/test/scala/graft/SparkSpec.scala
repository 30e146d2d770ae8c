package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs, configured exactly like the
  * Verify/Bench sessions (ANSI off, UTC, naive-parquet flags). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf: String = "/root/testdata/sf0.001"

  /** `body` over a fresh temp dir named `prefix`*, deleted after it. */
  def withTempDir[T](prefix: String)(body: String => T): T = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    try body(d.toString)
    finally graft.queries.FixtureCache.deleteRecursively(d)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // same graft_* SQL function surface as GraftSession.create() — the
    // engine sessions register them, so the test session must too
    GraftExtensions.registerAll(s)
    s
  }
}
