package graft

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{DataFrame, GraftStreams, Row, SparkSession}

/** The suite's one sf0.001 execution of every declared key. Suites that
  * need a key's output or plan read it here instead of running the key
  * again, so each key runs once per test JVM; a suite runs a key itself
  * only when re-execution, another corpus or another conf is what it
  * tests.
  *
  * Keys run in sorted key order (a21's snapshot serves later keys, and
  * the manifest was written in this order) on the manifest's corpus,
  * `GoldenWrite.sfDir`. Each key is constructed, its physical plan is
  * rendered, and its rows are collected; each step sits in a per-key
  * Try, so one broken loader or analysis fails only its own key's
  * assertions. A run keeps what that one execution produced:
  *  - `rows`, the collected output, and `df`, the executed DataFrame
  *    (its schema, and after execution its final adaptive plan);
  *  - `plan`, the physical plan as rendered before execution (the
  *    initial adaptive plan);
  *  - `confDiff`, every conf whose value the key changed, as
  *    `conf: before -> after` (`<unset>` where the conf had no value),
  *    from snapshots taken before construction and after collection;
  *  - `leftBehind`, every temp view the key added to or replaced on the
  *    session and every streaming query still active afterwards on any
  *    session of the SparkContext.
  * After each key the cache is cleared, as Bench and Verify do, so no
  * key's `persist()`ed frames outlive it.
  */
object GradedRuns {

  final case class Run(d: QueryDef, df: Try[DataFrame], plan: Try[String],
      rows: Try[Array[Row]], confDiff: Seq[String], leftBehind: Seq[String]) {
    /** (row count, ordered-row hash), equal to `GoldenWrite.rowsHash` of
      * the key's frame. */
    def rowsHash: Try[(Long, String)] = rows.map(GoldenWrite.rowsHash)
  }

  lazy val all: Seq[Run] = SparkEntry.all.sortBy(_.key).map { d =>
    val spark = SparkSpec.session
    val before = spark.conf.getAll
    val views = tempViews(spark)
    val df = Try(d.fn(spark, GoldenWrite.sfDir))
    val plan = df.flatMap(f => Try(f.queryExecution.executedPlan.toString))
    val rows = df.flatMap(f => Try(f.collect()))
    val after = spark.conf.getAll
    val diff = (before.keySet ++ after.keySet).toSeq.sorted
      .filter(k => before.get(k) != after.get(k))
      .map(k => s"$k: ${before.getOrElse(k, "<unset>")} -> " +
        after.getOrElse(k, "<unset>"))
    val left = tempViews(spark).collect {
      case (v, p) if !views.get(v).exists(_ eq p) => "temp view " + v
    }.toSeq.sorted ++ GraftStreams.active(spark).map("active stream " + _)
    spark.catalog.clearCache()
    Run(d, df, plan, rows, diff, left)
  }

  private lazy val byKey: Map[String, Run] = all.map(r => r.d.key -> r).toMap

  private def run(key: String): Run =
    byKey.getOrElse(key, throw new NoSuchElementException(key))

  /** The session's temp views by name, each with its registered
    * definition: compared by reference, a replaced view counts too. */
  private def tempViews(spark: SparkSession): Map[String, AnyRef] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(t =>
      t.name -> spark.sessionState.catalog.getRawTempView(t.name).orNull)
      .toMap

  // Each accessor rethrows the key's construction or execution failure.

  /** A copy of `key`'s collected rows, in output order. */
  def rows(key: String): Array[Row] = run(key).rows.get.clone()

  /** A local DataFrame over `key`'s rows and schema, for laws that join,
    * filter or aggregate the output. */
  def frame(key: String): DataFrame = {
    val r = run(key)
    SparkSpec.session.createDataFrame(r.rows.get.toSeq.asJava, r.df.get.schema)
  }

  /** `key`'s physical plan, rendered before execution. */
  def plan(key: String): String = run(key).plan.get

  /** `key`'s physical plan after execution: the final adaptive plan, with
    * its codegen stages and runtime rewrites (skew splits). */
  def finalPlan(key: String): String =
    run(key).df.get.queryExecution.executedPlan.toString
}
