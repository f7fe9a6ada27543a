package graft.vlm

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (small parallelism: tiny fixtures).
  * The session is shared across suites and never stopped here (JVM exit
  * cleans up); each suite's temp dirs are deleted after it ([[graft.TempDirs]]).
  */
trait SparkSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark: SparkSession = SparkSpec.session
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
