package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — the
  * ScalaTest suites run sequentially in the forked test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  // a fixed 4 cores, so partition-count-sensitive assertions do not
  // depend on the machine running the suite
  lazy val session: SparkSession = GraftSession.local(4)
}
