package graft.vlm

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs (small parallelism: tiny fixtures). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // session shared across suites; JVM exit cleans up
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      // same extensions as GraftSession: SQL function registration + the
      // RangeJoinRewrite optimizer rule (plan assertions must see it)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      // reference semantics: Python dict building is last-wins on key collision
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      // tolerate nanos-encoded fixtures (Tables.toEpochMicros normalizes)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config(graft.GraftSession.statusStoreCaps)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
