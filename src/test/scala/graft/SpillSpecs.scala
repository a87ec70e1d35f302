package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Forced-spill rerun — the reference re-executes its query corpus with
  * spilling forced to prove results are identical when operators go to
  * disk (presto-tests/.../TestDistributedSpilledQueries.java,
  * TestSpilledAggregations.java: tiny aggregation-operator-unspill-
  * memory-limit + spill-enabled, results checked against the H2
  * oracle).
  *
  * Spark spills automatically under memory pressure; at test scale that
  * pressure never arises, so this suite forces it the way Spark's own
  * spill tests do — element-count force-spill thresholds rather than
  * unrealistically tiny heaps (which would exercise OOM paths, not
  * spill paths):
  *
  *   - spark.shuffle.spill.numElementsForceSpillThreshold: every
  *     UnsafeExternalSorter (shuffle sort, sort-merge-join sort,
  *     window sort, global sort) spills to disk after N rows
  *   - spark.sql.objectHashAggregate.sortBased.fallbackThreshold:
  *     TypedImperativeAggregates fall back to sort-based aggregation
  *     after N distinct keys per partition
  *   - spark.sql.windowExec.buffer.spill.threshold /
  *     spark.sql.sortMergeJoinExec.buffer.spill.threshold: operator
  *     row buffers spill after N buffered rows
  *   - broadcast disabled so joins take the sort-merge (spilling) path
  *
  * The 100 TB claim this pins: a 1000-executor run WILL spill — results
  * must not depend on whether an operator stayed in memory. Each
  * representative query (heavy agg, mixed distinct, window, multi-join,
  * global sort, object agg) runs once in the constrained session
  * (asserting nonzero spilled bytes) and once in a normal session, and
  * the row multisets must be identical. Knobs documented in SCALE.md.
  */
class SpillSpecs extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.01"

  // heavy agg, mixed-distinct expand, window, multi-join, global sort,
  // TypedImperativeAggregate (object agg) — one per spilling operator
  private val queryNames = Seq(
    "q1_pricing_summary", "agg_mixed_distinct", "win_running_sum",
    "q9_product_profit", "misc_orderby_nulls", "agg_array_sorted")

  /** Sort key: doubles at low precision (pairing only — the real
    * comparison is tolerance-based), everything else exact.
    */
  private def sortKey(v: Any): String = v match {
    case d: Double => "%.6e".format(d)
    case f: Float  => "%.4e".format(f)
    case r: org.apache.spark.sql.Row => r.toSeq.map(sortKey).mkString("[", ",", "]")
    case s: Seq[_] => s.map(sortKey).mkString("[", ",", "]")
    case other     => String.valueOf(other)
  }

  /** Double/float sums are legitimately order-sensitive; spilling changes
    * accumulation order, so numerics compare at 1e-9 relative tolerance
    * (exact-decimal TPC-H amounts land exactly on rounding boundaries,
    * so fixed-precision string rendering cannot absorb the ULP noise).
    */
  private def valuesMatch(x: Any, y: Any): Boolean = (x, y) match {
    case (a: Double, b: Double) =>
      a == b || math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))
    case (a: Float, b: Float) =>
      a == b || math.abs(a - b) <= 1e-5f * math.max(math.abs(a), math.abs(b))
    case (a: org.apache.spark.sql.Row, b: org.apache.spark.sql.Row) =>
      a.length == b.length && a.toSeq.zip(b.toSeq).forall(t => valuesMatch(t._1, t._2))
    case (a: Seq[_], b: Seq[_]) =>
      a.length == b.length && a.zip(b).forall(t => valuesMatch(t._1, t._2))
    case (a, b) => String.valueOf(a) == String.valueOf(b)
  }

  private def runAll(spark: SparkSession): Map[String, Array[org.apache.spark.sql.Row]] = {
    graft.engine.Engine.registerTables(spark, sfDir)
    queryNames.map { n =>
      n -> SparkEntry.queries(n)(spark, sfDir).collect().sortBy(sortKey)
    }.toMap
  }

  test("representative queries spill to disk and stay row-identical") {
    // a fresh context is required: the force-spill threshold is a core
    // (SparkConf) setting, not a session-level SQLConf
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    // the engine's own configuration plus only the spill-forcing knobs
    val constrained = graft.engine.Engine.session("local[4]", shufflePartitions = 4,
      overrides = Map(
        "spark.shuffle.spill.numElementsForceSpillThreshold" -> "500",
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "2",
        "spark.sql.windowExec.buffer.in.memory.threshold" -> "64",
        "spark.sql.windowExec.buffer.spill.threshold" -> "128",
        "spark.sql.sortMergeJoinExec.buffer.in.memory.threshold" -> "64",
        "spark.sql.sortMergeJoinExec.buffer.spill.threshold" -> "128",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1"))
    val spilledMem = new java.util.concurrent.atomic.AtomicLong(0)
    val spilledDisk = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        Option(t.taskMetrics).foreach { m =>
          spilledMem.addAndGet(m.memoryBytesSpilled)
          spilledDisk.addAndGet(m.diskBytesSpilled)
        }
    }
    constrained.sparkContext.addSparkListener(listener)
    val spilledResults =
      try runAll(constrained)
      finally {
        org.apache.spark.sql.graft.ListenerBusFlush.drain(constrained.sparkContext)
        constrained.sparkContext.removeSparkListener(listener)
        constrained.stop()
      }
    assert(spilledDisk.get() > 0,
      s"constrained run must actually spill to disk (mem=${spilledMem.get()}, disk=${spilledDisk.get()})")

    // same queries on an ordinary session: identical row multisets
    val normal = graft.engine.Engine.session("local[4]", shufflePartitions = 4)
    val normalResults =
      try runAll(normal)
      finally normal.stop()
    queryNames.foreach { n =>
      val (s, m) = (spilledResults(n), normalResults(n))
      assert(s.length == m.length,
        s"$n: row count diverged under spill (${s.length} vs ${m.length})")
      s.zip(m).zipWithIndex.foreach { case ((sr, mr), i) =>
        assert(valuesMatch(sr, mr),
          s"$n: row $i diverged under spill ($sr vs $mr)")
      }
    }
  }
}
