package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run (per guide: one
  * SparkSession per suite, lazy).
  */
object SharedSpark {
  lazy val spark: SparkSession = GraftSession.local(cpus = 4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
  lazy val sf: String = "/root/testdata/sf0.001"
}
