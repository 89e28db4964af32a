package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session). */
object TestSession {
  lazy val spark: SparkSession = SparkEntry.localSession(4, "graft-test")
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sf: String = "/root/testdata/sf0.001"
}
