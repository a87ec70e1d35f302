package graft.operators

import graft.engine.Engine.PinOps

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components by min-label propagation WITH
  * pointer jumping — the keeper-assignment step of transitive dedup.
  *
  * Plain neighbor propagation needs diameter-many rounds: a 50-node
  * near-dup chain (docA~docB~docC…, common in boilerplate families)
  * silently mis-converges under a 20-round cap. Each round here does
  *   1. neighbor step:  label(x) ← min over neighbors' labels
  *   2. pointer jump:   label(x) ← min(label(x), label(label(x)))
  * Jumping halves the distance to the cluster minimum every round —
  * convergence in O(log diameter), so 20 rounds covers a ~10^6-hop
  * diameter. Per round: one join + one agg + one self-join, lineage
  * truncated via localCheckpoint (without it the plan doubles every
  * round — fatal at real graph sizes). Labels are always node ids, so
  * the jump join's right side is the label table itself.
  */
object ConnectedComponents {

  /** `edges`: two columns (a, b), undirected (symmetrized internally).
    * Returns ((node, cluster) labels, rounds used). Cluster = minimum
    * node id of the component.
    */
  def minLabelWithStats(edges: DataFrame, maxIter: Int = 20): (DataFrame, Int) =
    minLabelTracked(edges, maxIter, null)

  /** As minLabelWithStats, additionally appending the RDD id of every
    * checkpoint this call creates to `createdRddIds` (when non-null).
    * Test-facing: lets the no-leak spec check ONLY its own RDDs against
    * `getPersistentRDDs` instead of diffing global state, which races
    * with concurrent suites persisting on the shared SparkContext.
    */
  private[graft] def minLabelTracked(edges: DataFrame, maxIter: Int,
      createdRddIds: scala.collection.mutable.Buffer[Int]): (DataFrame, Int) = {
    val cols = edges.columns
    require(cols.length == 2, s"edges must have exactly 2 columns, got ${cols.mkString(",")}")
    // A localCheckpoint'ed Dataset's plan is a LogicalRDD over the RDD
    // that holds its blocks; unpersisting THAT rdd (not the Dataset,
    // whose unpersist only consults the plan cache) frees the blocks.
    // Reading the id from the plan (rather than diffing
    // getPersistentRDDs) is race-free when other threads persist
    // concurrently — test suites share one SparkContext.
    def ckptRdds(ds: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
      ds.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      }
    // Checkpoint the edge list BEFORE the loop — cache() would keep the
    // caller's full logical plan (an LSH/verify pipeline can be tens of
    // thousands of expression nodes), and every round's checkpoint
    // re-ANALYZES the sym plan it references: measured minutes of pure
    // Catalyst analysis per CC call at sf0.1. A LogicalRDD makes each
    // round's plan O(1) regardless of how the edges were produced.
    val e0 = edges.select(col(cols(0)).as("a"), col(cols(1)).as("b")).pinned()
    if (createdRddIds != null) createdRddIds ++= ckptRdds(e0).map(_.id)
    val sym = e0.union(e0.select(col("b").as("a"), col("a").as("b")))
    var labels = sym.select(col("a").as("node")).distinct()
      .select(col("node"), col("node").as("cluster"))
    var converged = false
    var iter = 0
    // Checkpoint blocks of finished rounds are freed explicitly: they
    // are dead the moment the next round materializes, and leaking
    // `rounds` of them per call builds storage pressure that evicts the
    // session's shared caches.
    var prevCkpt: Seq[org.apache.spark.rdd.RDD[_]] = Nil
    while (!converged && iter < maxIter) {
      val viaNeighbor = sym
        .join(labels.select(col("node").as("a"), col("cluster").as("nlbl")), "a")
        .select(col("b").as("node"), col("nlbl").as("cluster"), lit(null).cast("long").as("prev"))
      // The previous label rides through the round as max(prev) — unique
      // per node (neighbor rows carry null), so the convergence check
      // below is a filter+count over the already-checkpointed output
      // instead of a join against the previous label table (VERDICT r3
      // #8: the join-based check was a full extra shuffle job per round).
      // The checkpoint sits on prop, BEFORE the jump: the jump self-join
      // reads prop twice, and an unmaterialized prop would recompute the
      // whole propagation for each side.
      val prop = labels.select(col("node"), col("cluster"), col("cluster").as("prev"))
        .union(viaNeighbor)
        .groupBy("node").agg(min("cluster").as("cluster"), max("prev").as("prev"))
        .pinned()
      val mine = ckptRdds(prop)
      if (createdRddIds != null) createdRddIds ++= mine.map(_.id)
      // The jump is an identity in round 0 (labels are self) and only
      // starts paying off once labels are ≥2 hops old — skip it there,
      // keeping the small-cluster fast path at one join+agg per round.
      // Post-jump lineage stays one self-join above the checkpoint, so
      // no second checkpoint is needed.
      val next = if (iter < 2) prop
        else prop
          .join(prop.select(col("node").as("cluster"), col("cluster").as("jlbl")),
            Seq("cluster"), "left")
          .select(col("node"),
            least(col("cluster"), coalesce(col("jlbl"), col("cluster"))).as("cluster"),
            col("prev"))
      converged = next.filter(col("cluster") =!= col("prev")).isEmpty
      labels = next.select("node", "cluster")
      prevCkpt.foreach(_.unpersist(blocking = false))
      prevCkpt = mine
      iter += 1
    }
    ckptRdds(e0).foreach(_.unpersist(blocking = false))
    (labels, iter)
  }

  def minLabel(edges: DataFrame, maxIter: Int = 20): DataFrame =
    minLabelWithStats(edges, maxIter)._1
}
