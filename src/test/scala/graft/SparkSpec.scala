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

  /** Runs `f` with the given session confs set, restoring them after. */
  def withConf[T](kv: (String, String)*)(f: => T): T = {
    val old = kv.map { case (key, _) => key -> spark.conf.getOption(key) }
    kv.foreach { case (key, v) => spark.conf.set(key, v) }
    try f finally old.foreach {
      case (key, Some(v)) => spark.conf.set(key, v)
      case (key, None) => spark.conf.unset(key)
    }
  }
}
