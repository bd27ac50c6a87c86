package org.apache.spark.sql

import org.apache.spark.sql.util.QueryExecutionListener

/** The two `private[sql]` members of a session that
  * [[graft.ops.Interpreted]] needs, reached from inside Spark's
  * package: a clone of a classic session (its own conf, catalog and
  * listener manager over the same `SparkContext`), and the query
  * execution listeners registered on a session right now. */
object GraftSessionAccess {

  def cloneOf(spark: SparkSession): SparkSession = spark match {
    case s: classic.SparkSession => s.cloneSession()
    case other => throw new IllegalArgumentException(
      s"cannot clone a ${other.getClass.getName}: only a classic session clones")
  }

  def listenersOf(spark: SparkSession): Seq[QueryExecutionListener] =
    spark.listenerManager.listListeners().toSeq
}
