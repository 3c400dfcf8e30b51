package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** Runs `body` with the shared session's confs set to `kvs`, then puts
    * each key back as it was: its previous value, or unset when it had
    * none.
    */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `body`'s value and the Spark jobs started while it ran, the listener
    * bus drained on both sides so the count is exactly its own. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val v = body
      GraftListenerBus.drain(spark.sparkContext)
      (v, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

object SparkSpec {
  /** 4 cores: the width the golden manifest was made at. */
  lazy val session: SparkSession = Sessions.local(4)
}
