package org.apache.spark.sql.graft

import java.util.concurrent.{CompletableFuture, Future => JFuture}

import scala.concurrent.{ExecutionContext, Future}

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastMode, BroadcastPartitioning, Partitioning}
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, BroadcastExchangeLike}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

import graft.plans.BroadcastReuse

/** A broadcast exchange whose relation comes from `cache` when an earlier
  * statement built it (see [[graft.plans.BroadcastReuse]]). On a miss an
  * inner `BroadcastExchangeExec` builds it exactly as Spark would, and
  * the build enters the cache only once it has completed: a cancelled or
  * failed build never does. Two concurrent misses each build their own.
  *
  * The node shares the inner exchange's metrics, job tag and runtime
  * statistics. A hit sets `dataSize` and `numOutputRows` to the build's,
  * so AQE reads the same statistics as after a build (zeroed ones would
  * let AQEPropagateEmptyRelation drop the join); its collect, build and
  * broadcast times stay 0. It canonicalizes as the plain exchange, so
  * exchange and stage reuse within a query match either form. It lives
  * in this package because `doExecuteBroadcast` is `protected[sql]`.
  */
case class ReusableBroadcastExchangeExec(mode: BroadcastMode, child: SparkPlan)(
    @transient cache: BroadcastReuse.Cache) extends BroadcastExchangeLike {

  override protected def otherCopyArgs: Seq[AnyRef] = cache :: Nil

  @transient private val build = BroadcastExchangeExec(mode, child)

  override lazy val metrics: Map[String, SQLMetric] = build.metrics
  override def outputPartitioning: Partitioning = BroadcastPartitioning(mode)
  override def jobTag: String = build.jobTag
  override def runtimeStatistics: Statistics = build.runtimeStatistics
  override protected def doCanonicalize(): SparkPlan = build.canonicalized

  // as BroadcastExchangeExec: the relation is computed once per node, so
  // its statistics must survive a re-execution of the plan
  override def resetMetrics(): Unit = ()

  @transient private lazy val key = BroadcastReuse.keyOf(canonicalized, child)

  @transient private lazy val hit: Option[BroadcastReuse.Entry] = {
    val found = cache.lookup(key)
    found.foreach { e =>
      metrics("dataSize").set(e.dataSize)
      metrics("numOutputRows").set(e.rows)
      SQLMetrics.postDriverMetricUpdates(sparkContext,
        sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), metrics.values.toSeq)
    }
    found
  }

  @transient override lazy val relationFuture: JFuture[Broadcast[Any]] = hit match {
    case Some(e) => CompletableFuture.completedFuture(e.broadcast)
    case None =>
      val started = build.relationFuture
      build.completionFuture.foreach { b =>
        val stats = build.runtimeStatistics
        cache.put(key, BroadcastReuse.Entry(b, stats.sizeInBytes.toLong, stats.rowCount.get.toLong))
      }(ExecutionContext.parasitic)
      started
  }

  override def completionFuture: Future[Broadcast[Any]] = hit match {
    case Some(e) => Future.successful(e.broadcast)
    case None => build.completionFuture
  }

  override protected def doPrepare(): Unit = relationFuture

  override protected def doExecute(): RDD[InternalRow] =
    throw QueryExecutionErrors.executeCodePathUnsupportedError(nodeName)

  override protected[sql] def doExecuteBroadcast[T](): Broadcast[T] = hit match {
    case Some(e) => e.broadcast.asInstanceOf[Broadcast[T]]
    case None => build.doExecuteBroadcast[T]()
  }

  override protected def withNewChildInternal(newChild: SparkPlan): ReusableBroadcastExchangeExec =
    copy(child = newChild)(cache)
}
