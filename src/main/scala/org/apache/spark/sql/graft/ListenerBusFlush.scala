package org.apache.spark.sql.graft

import scala.reflect.ClassTag

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerInterface
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Access to the listener bus's `private[spark]` members and the SQL
  * execution-end event's `private[sql]` fields, for
  * `graft.engine.QueryMetrics` and its readers.
  */
object ListenerBusFlush {

  /** Wait until every posted event has reached its listeners: a counter
    * read right after an action can otherwise miss its final stages. */
  def drain(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => () }

  /** The listeners of class `T` registered on `sc`'s bus. */
  def listeners[T <: SparkListenerInterface: ClassTag](sc: SparkContext): Seq[T] =
    sc.listenerBus.findListenersByClass[T]()

  /** The query execution behind `end`, if it ended without error. */
  def succeeded(end: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    if (end.executionFailure.isDefined) None else Option(end.qe)
}
