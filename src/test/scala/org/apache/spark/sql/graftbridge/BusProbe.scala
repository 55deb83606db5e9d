package org.apache.spark.sql.graftbridge

import scala.jdk.CollectionConverters._

/** Test access to the context's shared listener bus (`private[spark]`). */
object BusProbe {
  /** The class name of every listener on `sc`'s bus. */
  def listeners(sc: org.apache.spark.SparkContext): Seq[String] =
    sc.listenerBus.listeners.asScala.map(_.getClass.getName).toSeq

  /** Block until every event posted so far has reached every listener. */
  def drain(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
