package org.apache.spark.sql

import scala.jdk.CollectionConverters._

/** The streaming queries active on ANY session of `spark`'s SparkContext.
  * `spark.streams.active` sees only the queries started on `spark`
  * itself, while the streaming keys start theirs on
  * [[graft.Sessions.scoped]] children; the shared registry that sees both
  * is private to Spark's SQL package, hence this accessor's package. */
object GraftStreams {
  def active(spark: SparkSession): Seq[String] =
    spark.sharedState.activeStreamingQueries.values.asScala.toSeq
      .map(q => Option(q.name).getOrElse(q.id.toString)).sorted
}
