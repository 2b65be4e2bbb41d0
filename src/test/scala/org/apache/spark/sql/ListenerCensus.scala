package org.apache.spark.sql

import scala.jdk.CollectionConverters._

/** The classes of every listener registered on a session, for specs:
  * the Spark listener bus is `private[spark]` and the query execution
  * listeners are `private[sql]`. */
object ListenerCensus {
  def classNames(spark: SparkSession): Seq[String] =
    (spark.sparkContext.listenerBus.listeners.asScala.toSeq ++
      spark.listenerManager.listListeners().toSeq).map(_.getClass.getName)
}
