package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, Test/fork := true). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Smallest corpus — unit tests stay sub-second per query. */
  val sfDir = "/root/testdata/sf0.001"

  /** A new, empty, uniquely named dir under the per-pid `graft_test` root
    * (emptied on first use in this JVM, collected once the pid is dead).
    */
  def freshDir(name: String): java.nio.file.Path = {
    val root = java.nio.file.Paths.get(sources.TmpDirs.perPidRoot("graft_test"))
    java.nio.file.Files.createDirectories(root)
    java.nio.file.Files.createTempDirectory(root, name)
  }

  /** Runs `body` with the shared session's `key` set to `value`, restoring
    * the previous value afterwards.
    */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val saved = spark.conf.get(key)
    spark.conf.set(key, value)
    try body finally spark.conf.set(key, saved)
  }
}

object SparkSpec {
  /** 4 cores: the width the golden manifest was made at. */
  lazy val session: SparkSession = Sessions.local(4)
}
