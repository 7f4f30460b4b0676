package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite, on the configuration every entry
  * point ships ([[GraftSession]]). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession(4)
}
