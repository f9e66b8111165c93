package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session keeps the test
  * run fast; suites must not mutate session-global state destructively). */
object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(cores = 4, appName = "graft-test")

  /** The smallest generated scale factor (TESTDATA.md). */
  val Sf0001: String = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}
