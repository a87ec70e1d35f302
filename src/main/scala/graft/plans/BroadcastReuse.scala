package graft.plans

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkConf
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.PlanExpression
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange}
import org.apache.spark.sql.graft.{ListenerBusFlush, ReusableBroadcastExchangeExec}

import graft.engine.QueryMetrics

/** Build each files-only broadcast once per SparkContext, not once per
  * statement.
  *
  * Spark builds a broadcast hash relation again for every query that
  * plans one, as the reference rebuilds the replicated side of every
  * join (DetermineJoinDistributionType.java:51). When every leaf under a
  * `BroadcastExchangeExec` is a file scan over a listed file index, and no
  * node under it holds a subquery, a nondeterministic expression or
  * another exchange, the relation depends only on that plan and those
  * files. This rule swaps such an exchange for a
  * [[ReusableBroadcastExchangeExec]], which serves the relation from the
  * context's [[Cache]] when an earlier statement built it, and builds it
  * as Spark would, then caches it, otherwise.
  *
  * The key is the exchange's canonical plan (mode and child) and the
  * sorted (path, length, modification time) of every file each scan's
  * index lists. An INSERT writes new files, so a table it changed keys a
  * new entry: nothing is invalidated, and a stale entry ages out of the
  * LRU. Out of scope: cached-table leaves (`InMemoryTableScanExec`), a
  * subtree above a shuffle, a subquery (dynamic partition pruning
  * included) or a nondeterministic expression.
  *
  * It runs in the columnar rule [[graft.engine.GraftExtensions]] injects,
  * after the row/columnar transitions are inserted, so it applies with
  * AQE on (to each broadcast stage as it is created) and off. A context without [[QueryMetrics]] (not built by
  * `Engine.session`) has no cache, and the rule leaves its plans alone.
  */
final class BroadcastReuse(session: SparkSession) extends Rule[SparkPlan] {

  def apply(plan: SparkPlan): SparkPlan = {
    lazy val cache = ListenerBusFlush.listeners[QueryMetrics](session.sparkContext)
      .headOption.map(_.broadcasts)
    plan.transformUp {
      case b: BroadcastExchangeExec if BroadcastReuse.reusable(b.child) && cache.isDefined =>
        ReusableBroadcastExchangeExec(b.mode, b.child)(cache.get)
    }
  }
}

object BroadcastReuse {

  /** A cached relation's key: see the class comment. */
  final case class Key(plan: SparkPlan, files: Seq[(String, Long, Long)])

  /** A completed build: the broadcast and the runtime statistics its
    * exchange reported (estimated relation bytes, rows). */
  final case class Entry(broadcast: Broadcast[Any], dataSize: Long, rows: Long)

  /** Whether a broadcast's child reads only listed files, with nothing
    * under it that could answer differently on the same files. */
  def reusable(child: SparkPlan): Boolean =
    child.collectLeaves().forall {
      case s: FileSourceScanExec => s.relation.location.isInstanceOf[PartitioningAwareFileIndex]
      case _ => false
    } && !child.exists(p => p.isInstanceOf[Exchange] ||
      p.expressions.exists(e => !e.deterministic || e.exists(_.isInstanceOf[PlanExpression[_]])))

  /** The key of a reusable exchange: `canonical` is its canonical plan. */
  def keyOf(canonical: SparkPlan, child: SparkPlan): Key =
    Key(canonical, child.collectLeaves().flatMap {
      case s: FileSourceScanExec =>
        s.relation.location.asInstanceOf[PartitioningAwareFileIndex].allFiles()
          .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
      case _ => Nil
    }.sorted)

  /** Spark's reserved system memory (UnifiedMemoryManager). */
  private val ReservedBytes = 300L * 1024 * 1024

  /** Spark's protected storage region for a heap of `heapBytes`:
    * `spark.memory.fraction` of (heap − 300 MB), times
    * `spark.memory.storageFraction` — about 524 MB of a 2 GB heap. */
  def budget(heapBytes: Long, memoryFraction: Double, storageFraction: Double): Long =
    math.max(0L, ((heapBytes - ReservedBytes) * memoryFraction * storageFraction).toLong)

  /** [[budget]] of this JVM's heap under `conf`'s memory settings. */
  def budget(conf: SparkConf): Long = budget(Runtime.getRuntime.maxMemory,
    conf.getDouble("spark.memory.fraction", 0.6), conf.getDouble("spark.memory.storageFraction", 0.5))

  /** One context's completed builds, least recently used first out once
    * their summed `dataSize` would exceed `budget`. Evicting drops the
    * reference only: `ContextCleaner` frees the broadcast once no running
    * query holds it either. */
  final class Cache(val budget: Long) {
    private val entries = new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true)
    private var held = 0L
    private val served = new AtomicLong()

    /** The entry for `key`, counted as reused when found. */
    def lookup(key: Key): Option[Entry] = {
      val e = synchronized(Option(entries.get(key)))
      if (e.isDefined) served.incrementAndGet()
      e
    }

    /** Cache a completed build; one larger than the whole budget is not kept. */
    def put(key: Key, entry: Entry): Unit = synchronized {
      if (entry.dataSize <= budget) {
        Option(entries.put(key, entry)).foreach(old => held -= old.dataSize)
        held += entry.dataSize
        val lru = entries.values.iterator
        while (held > budget) {
          held -= lru.next().dataSize
          lru.remove()
        }
      }
    }

    /** Drop every entry (the context stopped). */
    def clear(): Unit = synchronized {
      entries.clear()
      held = 0L
    }

    /** Entries held, their summed `dataSize`, and lookups served so far. */
    def size: Int = synchronized(entries.size)
    def bytes: Long = synchronized(held)
    def reused: Long = served.get()
  }
}
