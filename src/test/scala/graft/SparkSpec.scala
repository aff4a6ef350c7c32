package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base for all suites: one local session per JVM. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf = SparkSpec.sf
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession
      .builder(master = "local[4]", appName = "graft-test", shufflePartitions = 4)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf = "/root/testdata/sf0.001"
}
