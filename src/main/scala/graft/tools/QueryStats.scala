package graft.tools

/** Algorithm-internal counters published into the bench artifact.
  *
  * A query builder records scale-relevant internals (LSH candidate-pair
  * counts, bucket occupancies, band widths) under its query name while it
  * plans/executes; Bench snapshots the map after each measured run and
  * emits the values as extra per-query fields in BENCH_FULL.json. This is
  * what makes scale claims falsifiable from the artifact alone: "bucketed,
  * not all-pairs" is checkable only if the candidate count ships with the
  * timing (VERDICT r8 next-round #1 and #6).
  *
  * Values are plain longs; last write per (query, key) wins — Bench reads
  * after the min-run completes, so the snapshot matches the reported run.
  */
object QueryStats {
  private val stats =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.Map[String, Long]]()

  def record(query: String, key: String, value: Long): Unit = {
    stats
      .computeIfAbsent(query, _ => new java.util.concurrent.ConcurrentHashMap[String, Long]())
      .put(key, value)
    ()
  }

  /** Snapshot for one query, sorted by key for stable artifact output. */
  def snapshot(query: String): Seq[(String, Long)] = {
    val m = stats.get(query)
    if (m == null) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      m.asScala.toSeq.sortBy(_._1)
    }
  }

  def clear(): Unit = stats.clear()

  /** Zero-cost in-flow counters via Spark's observation API: attach
    * `observe` metrics to a pipeline stage (computed DURING the normal
    * execution — no extra job, no plan change beyond a CollectMetrics
    * node) and have them land in this registry when the query finishes.
    * The observation name encodes the target query; one listener per
    * session routes every `qstats:`-prefixed observation here.
    */
  private val ObsPrefix = "qstats:"

  private val obsSeq = new java.util.concurrent.atomic.AtomicLong()

  def observed(df: org.apache.spark.sql.DataFrame, query: String,
      metric: org.apache.spark.sql.Column, more: org.apache.spark.sql.Column*)
      : org.apache.spark.sql.DataFrame = {
    // observation names must be unique within one query execution; the
    // metric aliases carry the key names
    df.observe(ObsPrefix + query + ":" + obsSeq.incrementAndGet(), metric, more: _*)
  }

  /** Routes every `qstats:`-prefixed observation into the registry.
    * [[graft.engine.Engine.session]] names this class in
    * `spark.sql.queryExecutionListeners`, so Spark registers one per
    * session. */
  class Listener extends org.apache.spark.sql.util.QueryExecutionListener {
    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
      qe.observedMetrics.foreach { case (name, row) =>
        if (name.startsWith(ObsPrefix)) {
          val query = name.drop(ObsPrefix.length).split(":")(0)
          row.schema.fields.zipWithIndex.foreach { case (f, i) =>
            if (!row.isNullAt(i)) row.get(i) match {
              case l: Long => record(query, f.name, l)
              case i2: Int => record(query, f.name, i2.toLong)
              case _ => ()
            }
          }
        }
      }
    }
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, ex: Exception): Unit = ()
  }
}
