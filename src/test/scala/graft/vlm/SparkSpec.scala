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
  val SessionDir = "/root/testdata/sf0.001"

  /** The product session's confs on 4 cores, sized for the smallest corpus
    * (a 1× start: 4 shuffle partitions), so plan assertions see the plans
    * that ship.
    */
  lazy val session: SparkSession =
    graft.GraftSession.builder(cores = 4, sfDir = SessionDir).appName("graft-test").getOrCreate()
}
