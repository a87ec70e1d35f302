package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale probe data builder: replicates the sf0.1 fixtures N times (default
  * 10 → an sf1-equivalent volume) with foreign-key-consistent key offsets,
  * so the bench suite can be executed one decade above the driver's largest
  * fixture (VERDICT r6 next-round #2).
  *
  * Faithfulness choices (the goal is a *representative* 10× workload, not
  * just 10× bytes):
  *   - Every key domain is offset per replica by a power-of-ten span above
  *     its sf0.1 max, consistently across tables (l_orderkey matches
  *     o_orderkey of the same replica, o_custkey matches c_custkey, ...),
  *     so join fan-outs scale the way a real sf1 generator would scale them.
  *   - Dates/timestamps are left unchanged: a larger SF means more rows per
  *     date, not a longer history — matches TPC-H's scaling rule.
  *   - `documents.text` is perturbed per replica (every 2nd token suffixed
  *     with a replica tag), so cross-replica Jaccard ~ 1/3 stays below the
  *     0.8 near-dup thresholds: dedup finds 10× as many clusters of the
  *     original size instead of 10×-bigger clusters (which would quadratically
  *     inflate candidate-pair counts and misrepresent the workload).
  *   - `embeddings.embedding` is rotated by the replica index: rotation of a
  *     high-dimensional pseudo-random vector is near-orthogonal to the
  *     original, so ANN bucket occupancy grows 10× without creating 10-way
  *     exact-duplicate clusters at cosine 1.0.
  *
  * Output layout mirrors the fixture dirs (`<dst>/<table>.parquet`), so
  * `Engine.registerTables` and `Bench` read it with SPARK_GRAFT_SF_DIR.
  */
object ScaleUp {

  private def pow10Above(n: Long): Long = {
    var s = 10L
    while (s <= n) s *= 10
    s
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = if (args.length > 1) args(1) else "tmp/sf1"
    val copies = sys.env.getOrElse("GRAFT_SCALE_COPIES", "10").toInt
    val spark = graft.engine.Engine.session(s"local[${graft.engine.Engine.cores}]")
    // Keep events.ts as raw nanos (long) — same representation the fixture
    // uses; Engine.registerTables restores a timestamp view over it.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")

    // One consistent span per key domain, derived from the source data.
    def spanOf(df: DataFrame, c: String): Long =
      pow10Above(df.agg(max(col(c))).head.getLong(0))
    val custSpan = spanOf(read("customer"), "c_custkey")
    val suppSpan = spanOf(read("supplier"), "s_suppkey")
    val partSpan = spanOf(read("part"), "p_partkey")
    val orderSpan = spanOf(read("orders"), "o_orderkey")
    val eventSpan = spanOf(read("events"), "event_id")
    val userSpan = spanOf(read("events"), "user_id")
    val docSpan = spanOf(read("documents"), "doc_id")
    val vecSpan = spanOf(read("embeddings"), "vec_id")

    val reps = broadcast(spark.range(copies).toDF("rep"))

    def shift(c: String, span: Long) = (col(c) + col("rep") * span).as(c)

    // Replicate df `copies` times applying per-column rewrites; untouched
    // columns pass through in their original order.
    def replicate(t: String, rewrites: Map[String, org.apache.spark.sql.Column],
                  outParts: Int): Unit = {
      val df = read(t)
      val out = df.crossJoin(reps)
        .select(df.columns.map(c => rewrites.getOrElse(c, col(c).as(c))): _*)
      out.repartition(outParts)
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[scaleup] $t -> $dst/$t.parquet")
    }

    // Dimension constants: straight copy (TPC-H: region/nation don't scale).
    Seq("region", "nation").foreach { t =>
      read(t).coalesce(1).write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[scaleup] $t -> copied")
    }

    replicate("customer", Map("c_custkey" -> shift("c_custkey", custSpan)), 4)
    replicate("supplier", Map("s_suppkey" -> shift("s_suppkey", suppSpan)), 2)
    replicate("part", Map("p_partkey" -> shift("p_partkey", partSpan)), 4)
    replicate("orders", Map(
      "o_orderkey" -> shift("o_orderkey", orderSpan),
      "o_custkey" -> shift("o_custkey", custSpan)), 16)
    replicate("lineitem", Map(
      "l_orderkey" -> shift("l_orderkey", orderSpan),
      "l_partkey" -> shift("l_partkey", partSpan),
      "l_suppkey" -> shift("l_suppkey", suppSpan)), 32)
    replicate("events", Map(
      "event_id" -> shift("event_id", eventSpan),
      "user_id" -> shift("user_id", userSpan)), 16)
    // Every 2nd token gets a replica tag (replica 0 is byte-identical to the
    // source): cross-replica shingle overlap drops to ~1/3 < all similarity
    // thresholds, keeping near-dup cluster sizes — and therefore verify-stage
    // pair counts — at their sf0.1 shape while multiplying cluster count.
    replicate("documents", Map(
      "doc_id" -> shift("doc_id", docSpan),
      "text" -> when(col("rep") === 0, col("text")).otherwise(
        array_join(
          zip_with(
            split(col("text"), " "),
            sequence(lit(0), size(split(col("text"), " ")) - 1),
            (w, i) => when(i % 2 === 1, concat(w, lit("~r"), col("rep")))
              .otherwise(w)),
          " ")).as("text")), 8)
    // Rotate the vector by `rep % dims` positions: near-orthogonal to the
    // original for pseudo-random embeddings, preserving norms and per-dim
    // stats. Past one full rotation cycle (copies > dims — the ×100 probe
    // over 64-dim vectors), the second cycle is SIGN-FLIPPED: a repeated
    // rotation would be an exact duplicate (cosine 1.0) of an earlier
    // replica and would quadratically inflate dup clusters; the negated
    // vector sits at cosine -1, far from every near-dup threshold.
    val dims = size(col("embedding"))
    val rot = pmod(col("rep"), dims.cast("long")).cast("int")
    val rotated = when(rot === 0, col("embedding")).otherwise(
      concat(
        slice(col("embedding"), rot + 1, dims - rot),
        slice(col("embedding"), lit(1), rot)))
    replicate("embeddings", Map(
      "vec_id" -> shift("vec_id", vecSpan),
      "embedding" -> when(col("rep") < dims.cast("long"), rotated)
        .otherwise(transform(rotated, x => -x)).as("embedding")), 8)

    spark.stop()
  }
}
