package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, Test/fork := true). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Smallest corpus — unit tests stay sub-second per query. */
  val sfDir = "/root/testdata/sf0.001"
}

object SparkSpec {
  /** 4 cores: the width the golden manifest was made at. */
  lazy val session: SparkSession = Sessions.local(4)
}
