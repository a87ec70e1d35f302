package graft.llm

import graft.engine.Engine.PinOps

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Fns
import graft.queries.{Q, QueryModule}

/** LLM training-data pipeline operators (the north star beyond the
  * reference's own surface — BASELINE.json): deduplication (exact,
  * n-gram Jaccard, MinHash+LSH, SimHash), embedding similarity search
  * (brute-force + LSH-bucketed), text analysis (language ID, quality
  * scoring, token counting, fingerprinting).
  *
  * Scale design (100 TB): every pipeline is shuffle-bounded —
  * shingle explode → hash-partition on shingle → pair counts (no
  * driver-side state); MinHash signatures are fixed 64-long arrays
  * (bounded row width); LSH banding turns all-pairs O(n²) into
  * per-bucket joins. The only O(n²) op is the brute-force KNN baseline,
  * kept to a bounded query set (its scale path is the LSH variant).
  */
object LlmQueries extends QueryModule {

  /** Distinct 64-bit-hashed 5-word shingles per doc, one row per
    * (doc_id, hash) — docs with <5 words are dropped, matching the
    * oracle. A tight mapPartitions kernel: the earlier
    * transform/slice/concat_ws formulation is a CodegenFallback
    * (interpreted) higher-order function and ran ~5x slower while also
    * shuffling full shingle STRINGS; hashing in the kernel keeps 8-byte
    * keys on the wire. Same xxhash64(seed 42) family as the sketch layer;
    * collision probability ~|shingles|²/2^64.
    */
  private def shingleRowsUncached(s: SparkSession): DataFrame = {
    import s.implicits._
    s.table("documents")
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val w = text.split(" ", -1) // keep empties: split('text', ' ') semantics
          if (w.length < 5) Iterator.empty
          else {
            val seen = new scala.collection.mutable.HashSet[Long]
            val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](w.length - 4)
            var i = 0
            while (i <= w.length - 5) {
              val sb = new java.lang.StringBuilder(w(i))
              var j = i + 1
              while (j < i + 5) { sb.append('_').append(w(j)); j += 1 }
              val h = graft.functions.Hll.hashAny(
                org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString))
              if (seen.add(h)) out += ((id, h))
              i += 1
            }
            out.iterator
          }
        }
      }.toDF("doc_id", "sh")
  }

  /** One (fixture -> persisted DataFrame) slot per SparkSession —
    * the shared shape behind the shingle/pair/capped/signature caches.
    * Weak identity key on the session (hashCode could collide and hand
    * a DataFrame bound to another session). When the session's fixture
    * changes (specs re-register `documents` over a different parquet),
    * the superseded DataFrame is unpersisted before the new one is
    * built, so each cache holds at most ONE persisted table per live
    * session and a long-lived process can't accumulate stale RDD blocks.
    */
  private final class SessionDfCache {
    private val slots =
      java.util.Collections.synchronizedMap(
        new java.util.WeakHashMap[SparkSession, (String, DataFrame)]())

    def get(s: SparkSession)(build: => DataFrame): DataFrame = slots.synchronized {
      val fixture = s.table("documents").inputFiles.headOption.getOrElse("")
      Option(slots.get(s)) match {
        case Some((`fixture`, df)) => df
        case prior =>
          prior.foreach { case (_, old) => old.unpersist(blocking = false) }
          val df = build.persist()
          slots.put(s, (fixture, df))
          df
      }
    }
  }

  // Shared, session-cached shingle table: the exact-Jaccard, MinHash-LSH
  // and CC-dedup paths all start from it; without the cache each of them
  // re-tokenizes the whole corpus (and the df-cap join below would scan
  // it twice per action).
  private val shingleCache = new SessionDfCache
  private def shingleRows(s: SparkSession): DataFrame =
    shingleCache.get(s)(shingleRowsUncached(s))

  // The exact-pair scaffold is shared by the ngram/minhash/simhash
  // queries; cache the J>=0.5 superset per session so contract checks
  // don't recompute the shingle self-join three times.
  private val pairCache = new SessionDfCache
  private def cachedPairs(s: SparkSession): DataFrame =
    pairCache.get(s)(exactJaccardPairsUncached(s, 0.5))

  /** Exact pairwise 5-gram Jaccard >= threshold via shingle-key join —
    * the SQL-exact near-dup detector (also the oracle's formulation).
    */
  private def exactJaccardPairs(s: SparkSession, threshold: Double): DataFrame =
    if (threshold >= 0.5) cachedPairs(s).filter(col("jaccard") >= threshold)
    else exactJaccardPairsUncached(s, threshold)

  /** Exploded (doc_id, 64-bit shingle hash) rows with a stop-shingle cap:
    * shingles appearing in more than max(10, 10% of docs) documents are
    * dropped on BOTH the engine and oracle sides. At 100 TB a template/
    * boilerplate shingle would otherwise put Σ c² pairs on one key; the
    * cap bounds every shingle bucket. Hash keys (not strings) cut
    * shuffle volume ~5x; collision probability ~|shingles|²/2^64.
    */
  private[graft] def cappedShingleRowsUncached(s: SparkSession): DataFrame = {
    val raw = shingleRows(s)
    // INTEGER cap (n/10, never 0.1*n): .toLong truncates where DuckDB's
    // CAST(double AS BIGINT) rounds, so a float cap diverges by 1 from
    // the oracle whenever the doc count ends in 5-9 (latent here — the
    // fixture counts are round — but the r13 review fixed the whole
    // cap family to integer arithmetic)
    val cap = math.max(10L, s.table("documents").count() / 10)
    val dfreq = raw.groupBy("sh").agg(count(lit(1)).as("dfc"))
    raw.join(dfreq.filter(col("dfc") <= cap).select("sh"), "sh")
  }

  // Session-cached capped shingles: the LSH signature agg, the exact
  // verify (both join sides) and the doc-size agg all start from this
  // table; uncached, each materialization repays the df-cap groupBy +
  // join over the full shingle set.
  private val cappedCache = new SessionDfCache
  private[graft] def cappedShingleRows(s: SparkSession): DataFrame =
    cappedCache.get(s)(cappedShingleRowsUncached(s))

  /** The matching oracle-side CTEs (string shingles; same cap).
    * Declared ABOVE its consumers (dedupGroupsOracle) so string
    * interpolation sees an initialized value regardless of laziness.
    */
  private val oracleShingleCtes: String =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE len(string_split(text, ' ')) >= 5),
      |sh0 AS (SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+4], '_') for i in generate_series(1, len(w)-4)])) AS s FROM toks),
      |dfreq AS (SELECT s, count(*) AS dfc FROM sh0 GROUP BY s),
      |sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN dfreq ON sh0.s = dfreq.s
      |       WHERE dfreq.dfc <= greatest(10, (SELECT count(*) FROM documents) // 10))""".stripMargin

  /** Transitive-dedup oracle: exact J>=0.8 pairs, recursive reachability,
    * min label per component. Shared by the exact CC path and the
    * LSH-fed production path (whose contract is cluster-identical output).
    */
  private val dedupGroupsOracle: String =
    s"""WITH RECURSIVE
      |$oracleShingleCtes,
      |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
      |cpairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(count(*) AS BIGINT) AS common
      |           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |pairs AS (SELECT d1, d2 FROM cpairs
      |          JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
      |          WHERE CAST(common AS DOUBLE) / (s1.n + s2.n - common) >= 0.8),
      |nodes AS (SELECT DISTINCT d FROM (SELECT d1 AS d FROM pairs UNION SELECT d2 FROM pairs) t),
      |edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
      |reach AS (SELECT d AS node, d AS lbl FROM nodes
      |          UNION
      |          SELECT e.b AS node, r.lbl FROM reach r JOIN edges e ON e.a = r.node)
      |SELECT node AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster
      |FROM reach GROUP BY node""".stripMargin

  /** Sorted-neighborhood candidate generation + Jaccard confirm (see
    * llm_dedup_sorted_neighborhood). Returns (candidates(d1,d2),
    * confirmed(doc_a,doc_b,common,n1,n2,jaccard), nDistinctSigs,
    * nEqualSigStarPairs). Four sorted passes à la Manku/Jain/Sarma
    * (WWW'07 §3, the simhash web-dedup scheme): pass b ROTATES the
    * 64-bit signature left by 16*b bits so band b leads, sorts by the
    * rotated value, and windows each record with its w=4 successors.
    * Pigeonhole: a pair within Hamming<=3 has some clean 16-bit band,
    * so in that band's pass the two sort into the same top-16-bit
    * block with their remaining 48 bits nearly equal — adjacency does
    * the rest. The window partitions by the leading 16 bits (never a
    * single-task global sort); blocks larger than 65536 distinct sigs
    * sub-split by the next 16 rotated bits (the image-dedup band
    * occupancy convention) so one low-entropy band value cannot
    * concentrate a task, trading recall only inside mega-blocks.
    * Candidate pairs are bounded by 4*w per record by construction —
    * no Σc² bucket term anywhere.
    */
  private[graft] def snmPipeline(s: SparkSession): (DataFrame, DataFrame, Long, Long) = {
    val w = 4
    val sig = s.table("documents").select(col("doc_id").cast("long").as("doc_id"),
      call_udf("simhash64", col("text")).as("sig"))
    // one materialization feeds equal-star, all four passes and the counts
    val groups = sig.groupBy("sig").agg(min("doc_id").as("rep"),
      collect_list("doc_id").as("members"), count(lit(1)).as("cnt")).pinned()
    val equalStar = groups.filter(col("cnt") > 1)
      .select(col("rep"), explode(col("members")).as("other"))
      .filter(col("other") =!= col("rep"))
      .select(least(col("rep"), col("other")).as("d1"),
        greatest(col("rep"), col("other")).as("d2"))
    val reps = groups.select(col("sig"), col("rep"))
    def pass(b: Int): DataFrame = {
      val rot = 16 * b
      val k = if (rot == 0) col("sig")
        else shiftleft(col("sig"), rot).bitwiseOR(shiftrightunsigned(col("sig"), 64 - rot))
      val keyed = reps.select(col("sig"), col("rep"), k.as("k"))
        .withColumn("blk0", shiftrightunsigned(col("k"), 48))
      val occ = keyed.groupBy("blk0").agg(count(lit(1)).as("bc"))
      val blocked = keyed.join(occ, "blk0")
        .withColumn("blk", when(col("bc") > 65536,
          concat(col("blk0").cast("string"), lit("_"),
            shiftrightunsigned(col("k"), 32).bitwiseAND(lit(0xFFFFL)).cast("string")))
          .otherwise(col("blk0").cast("string")))
      val win = Window.partitionBy("blk").orderBy(col("k"), col("rep"))
      val leads = (1 to w).map(i =>
        struct(lead("sig", i).over(win).as("nsig"), lead("rep", i).over(win).as("nrep"))
          .as(s"nb$i"))
      blocked.select(col("sig") +: col("rep") +: leads: _*)
        .select(col("sig"), col("rep"),
          explode(array((1 to w).map(i => col(s"nb$i")): _*)).as("nb"))
        .filter(col("nb.nrep").isNotNull)
        .filter(bit_count(col("sig").bitwiseXOR(col("nb.nsig"))) <= 8)
        .select(least(col("rep"), col("nb.nrep")).as("d1"),
          greatest(col("rep"), col("nb.nrep")).as("d2"))
    }
    val cands = (0 to 3).map(pass).foldLeft(equalStar)(_ union _).distinct()
    // Jaccard confirm over ONLY the candidate pairs' shingles
    val sh = cappedShingleRows(s)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val confirmed = cands
      .join(sh.select(col("doc_id").as("d1"), col("sh")), "d1")
      .join(sh.select(col("doc_id").as("d2"), col("sh")), Seq("d2", "sh"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("common"))
      .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
      .filter(col("common").cast("double") / (col("n1") + col("n2") - col("common")) >= 0.5)
      .select(col("d1"), col("d2"), col("common"), col("n1"), col("n2"),
        round(col("common").cast("double") /
          (col("n1") + col("n2") - col("common")), 6).as("jaccard"))
    val nSigs = reps.count()
    val nEqualStar = groups.filter(col("cnt") > 1)
      .agg(coalesce(sum(col("cnt") - 1), lit(0L))).head().getLong(0)
    (cands, confirmed, nSigs, nEqualStar)
  }

  private def exactJaccardPairsUncached(s: SparkSession, threshold: Double): DataFrame = {
    val sh = cappedShingleRows(s)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val a = sh.select(col("doc_id").as("d1"), col("sh"))
    val b = sh.select(col("doc_id").as("d2"), col("sh"))
    a.join(b, Seq("sh")).filter(col("d1") < col("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("common"))
      .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
      .select(col("d1").as("doc_a"), col("d2").as("doc_b"),
        (col("common").cast("double") / (col("n1") + col("n2") - col("common"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** MinHash+LSH candidate pairs: 64-perm signature, 16 bands x 4 rows.
    * Candidates = docs sharing any band hash; verified by signature-
    * estimated Jaccard.
    *
    * Signatures are computed as a plain hash AGGREGATION (explode
    * shingles -> 64 codegen'd `min(h0 + i*h1)` aggregates, Kirsch-
    * Mitzenmacher double hashing) rather than nested higher-order-
    * function lambdas — Spark HOFs are CodegenFallback (interpreted) and
    * were ~10x slower here; a hash agg also scales to arbitrarily many
    * docs with one shuffle on doc_id.
    */
  /** 64-perm MinHash signature per doc over the capped shingle space —
    * the single most compute-dense kernel in the dedup family (64
    * codegen'd min-aggregates over every shingle row). One narrow row
    * per doc (64 longs), so it is session-cached like the shingle
    * table: both LSH consumers (llm_dedup_minhash_lsh and the
    * groups_lsh production pipeline) and both bench passes reuse one
    * computation instead of repaying ~80 CPU-s each.
    */
  private[graft] def minhashSigsUncached(s: SparkSession): DataFrame = {
    // Same capped shingle space as the exact path so estimated and exact
    // Jaccard are comparable.
    val hashed = cappedShingleRows(s).select(col("doc_id"),
      col("sh").as("h0"), xxhash64(lit(1), col("sh")).as("h1"))
    // h_i = h0 XOR rot(h1, i): an overflow-free (ANSI-safe) double-hash
    // family; i=0 degenerates to h0^h1 which is still a valid member.
    def hi(i: Int) =
      if (i == 0) col("h0").bitwiseXOR(col("h1"))
      else col("h0").bitwiseXOR(
        shiftleft(col("h1"), i).bitwiseOR(shiftrightunsigned(col("h1"), 64 - i)))
    hashed.groupBy("doc_id")
      .agg(array((0 until 64).map(i => min(hi(i))): _*).as("sig"))
  }

  private val sigCache = new SessionDfCache
  private[graft] def minhashSigs(s: SparkSession): DataFrame =
    sigCache.get(s)(minhashSigsUncached(s))

  // The LSH candidate pipeline (band explode + self-join + signature
  // estimate) is referenced by two queries AND re-executes per action it
  // feeds (broadcast build + stream); its output is tiny (est-passed
  // pairs), so cache it per session like the shingle/sig tables. The
  // est-threshold is fixed at the call sites (0.7), so one slot suffices;
  // the observation node stays inside the cached plan and fires when the
  // cache materializes.
  private val lshPairCache = new SessionDfCache
  private[graft] def lshVerifiedPairs(s: SparkSession, estThreshold: Double): DataFrame = {
    require(estThreshold == 0.7, "lshVerifiedPairs cache assumes the shared 0.7 threshold")
    lshPairCache.get(s)(lshVerifiedPairsUncached(s, estThreshold))
  }

  private def lshVerifiedPairsUncached(s: SparkSession, estThreshold: Double): DataFrame = {
    val sigs = minhashSigs(s)
    val bands = sigs.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(15)),
        b => xxhash64(b, slice(col("sig"), b * lit(4) + 1, lit(4))))).as(Seq("band", "bhash")))
    val l = bands.select(col("band"), col("bhash"), col("doc_id").as("d1"))
    val r = bands.select(col("band"), col("bhash"), col("doc_id").as("d2"))
    // raw_band_pairs is THE quadratic-risk metric of any LSH pipeline
    // (bucket-size-squared growth under clustered duplicates) — publish
    // it per run via a zero-cost observation so the artifact can refute
    // or confirm linearity (sf0.1->sf1 measures x10 exact, max bucket 4).
    val candidates = graft.tools.QueryStats.observed(
      l.join(r, Seq("band", "bhash")).filter(col("d1") < col("d2")),
      "llm_dedup_minhash_lsh", count(lit(1)).as("raw_band_pairs"))
      .select("d1", "d2").distinct()
    candidates
      .join(sigs.select(col("doc_id").as("d1"), col("sig").as("sig1")), "d1")
      .join(sigs.select(col("doc_id").as("d2"), col("sig").as("sig2")), "d2")
      .select(col("d1").as("doc_a"), col("d2").as("doc_b"),
        Fns.minhashJaccard(col("sig1"), col("sig2")).as("est_jaccard"))
      .filter(col("est_jaccard") >= estThreshold)
  }

  /** Hyperplane-LSH ANN pipeline: 8 tables x 8 random-hyperplane bits.
    * Deterministic ±1 hyperplane components from a splitmix64 mix of
    * (table, bit, dim-index). Signatures are computed in a tight
    * mapPartitions loop — 64 plane dots per vector stay in primitive
    * arrays (higher-order-function lambdas are interpreted in Spark and
    * were ~5x slower here). Embarrassingly parallel: no shuffle until
    * the bucket join. Returns (candidate pairs, cosine top-10 per query).
    */
  /** The fixture corpus has NO planted near-neighbors (best background
    * cosine ~0.5), so recall measured against it says nothing. This adds
    * 10 deterministic near-duplicates per query vector (Rademacher ±0.025
    * perturbation, re-normalized; cosine ~0.98 to the query), giving the
    * ANN paths a ground truth that actually contains neighbors. The 5
    * query embeddings are collected driver-side (metadata-scale, like a
    * broadcast); at 100 TB the planted slice would be generated
    * distributed from a sampled query set the same way.
    */
  private def plantedEmbeddings(s: SparkSession): DataFrame = {
    import s.implicits._
    val e = s.table("embeddings")
    val qs = e.filter(col("vec_id") < 5)
      .select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    val planted = for { (qid, emb) <- qs.toSeq; j <- 1 to 10 } yield {
      val out = new Array[Float](emb.length)
      var norm = 0.0
      var d = 0
      while (d < emb.length) {
        var h = (qid * 1009 + j * 131 + d) * 0x9E3779B97F4A7C15L
        h ^= (h >>> 32); h *= 0xBF58476D1CE4E5B9L; h ^= (h >>> 29)
        out(d) = emb(d) + (if ((h & 1L) == 1L) 0.025f else -0.025f)
        norm += out(d) * out(d)
        d += 1
      }
      val inv = (1.0 / math.sqrt(norm)).toFloat
      (1000000L + qid * 100 + j, out.map(_ * inv))
    }
    e.select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .union(planted.toDF("vec_id", "embedding"))
  }

  /** Exhaustive cosine top-10 per query over `e` — the ground truth for
    * recall (the brute-force baseline the reference-scale docs call for).
    */
  private def bruteTop(e: DataFrame): DataFrame = {
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val sims = broadcast(q)
      .crossJoin(e.select(col("vec_id").as("n_id"), col("embedding").as("ne")))
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"), Fns.cosineSim(col("qe"), col("ne")).as("sim"))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))
    sims.select(col("q_id"), col("n_id"), row_number().over(w).as("rn"))
      .filter(col("rn") <= 10).select("q_id", "n_id")
  }

  /** Hyperplane sign bit i for embedding `emb`: +1 weight iff
    * ((i*131+d+7)*(i+d*151+13)) div 64 is even. Nonlinear in (i,d) so
    * hyperplane rows are mutually independent (see the
    * llm_dedup_embedding header for the failure mode of the linear
    * family it replaced); plain integer arithmetic so the DuckDB oracle
    * recomputes it exactly. Products stay < 2^31 for i < 512, d < 4096 —
    * no overflow on either side.
    */
  private def hyperplaneBit(i: Int, emb: Array[Float]): Int = {
    var dot = 0.0
    var d = 0
    while (d < emb.length) {
      val h = (i.toLong * 131 + d + 7) * (i.toLong + d.toLong * 151 + 13)
      val r = if ((h / 64) % 2 == 0) 1.0 else -1.0
      dot += emb(d).toDouble * r
      d += 1
    }
    if (dot >= 0) 1 else 0
  }

  /** SemDeDup-style embedding near-dup: banded sign-LSH candidates with
    * occupancy-capped bucket splitting, then exact cosine >= tau.
    * Factored out of the llm_dedup_embedding entry (which documents the
    * full scale design) so specs can drive it over adversarially
    * clustered fixtures. Records N/w/occupancy/candidate-count into
    * [[graft.tools.QueryStats]] under `statsName` — Bench publishes them
    * so the "candidates ~linear" claim is checkable from the artifact.
    */
  private[graft] def embeddingNearDupPairs(
      s: SparkSession, emb: DataFrame, tau: Double, statsName: String): DataFrame = {
    import s.implicits._
    val e = emb.select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    // Density-adaptive band width: smallest w>=8 with 2^(w+4) >= N keeps
    // expected bucket occupancy in [8,16) at any scale. Loop-free
    // power-of-two form avoids libm log2 boundary hazards; the oracle
    // computes the identical w from count(*).
    val n = e.count()
    var w = 8
    while ((1L << (w + 4)) < n && w < 32) w += 1
    val wB = w
    // One mapPartitions pass computes the 4 base band values (w bits
    // each) AND the 4 extra split values (12 bits each, hyperplane
    // indices 256+band*12+j) — 4w+48 sign dots per vector, no shuffle.
    // ids+longs only on the wire; embeddings re-join once per surviving
    // candidate pair.
    val bands = e.as[(Long, Array[Float])].mapPartitions { it =>
      it.flatMap { case (id, v) =>
        (0 until 4).iterator.map { b =>
          var bv = 0L
          var j = 0
          while (j < wB) { bv |= (hyperplaneBit(b * wB + j, v).toLong << j); j += 1 }
          var ev = 0L
          j = 0
          while (j < 12) { ev |= (hyperplaneBit(256 + b * 12 + j, v).toLong << j); j += 1 }
          (id, b, bv, ev)
        }
      }
    }.toDF("vec_id", "band", "bval", "eval")
    // Occupancy cap: buckets beyond 128 members (8-16x expected) are
    // data clusters; extend their key with the 12 extra sign bits so
    // mid-similarity clusters split ~4096-way while near-exact dups
    // (which agree on the extra bits w.h.p.) remain candidates.
    val sizes = bands.groupBy("band", "bval").agg(count(lit(1)).as("cnt"))
    val keyed = bands.join(sizes, Seq("band", "bval"))
      .select(col("vec_id"), col("band"), col("bval"),
        when(col("cnt") > 128, col("eval")).otherwise(lit(0L)).as("sub"))
    // Falsifiability instrumentation (two small agg jobs over id+long
    // rows): pre-split max occupancy, post-split max occupancy, and the
    // exact banded candidate-pair count (pre-distinct upper bound of
    // the verify stage's work).
    val preOcc = sizes.agg(max("cnt")).head.getLong(0)
    val postRow = keyed.groupBy("band", "bval", "sub").agg(count(lit(1)).as("c"))
      .agg(max("c"), sum(expr("c * (c - 1) DIV 2"))).head
    graft.tools.QueryStats.record(statsName, "n_vectors", n)
    graft.tools.QueryStats.record(statsName, "band_width", w.toLong)
    graft.tools.QueryStats.record(statsName, "max_occupancy_presplit", preOcc)
    graft.tools.QueryStats.record(statsName, "max_occupancy", postRow.getLong(0))
    graft.tools.QueryStats.record(statsName, "candidate_pairs", postRow.getLong(1))
    val ka = keyed.select(col("vec_id").as("vec_a"), col("band"), col("bval"), col("sub"))
    val kb = keyed.select(col("vec_id").as("vec_b"), col("band"), col("bval"), col("sub"))
    val cand = ka.join(kb, Seq("band", "bval", "sub"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b").distinct()
    val cs = cand
      .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("ea")), "vec_a")
      .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("eb")), "vec_b")
      .select(col("vec_a"), col("vec_b"), Fns.cosineSim(col("ea"), col("eb")).as("cs"))
    cs.filter(col("cs") >= tau)
      .select(col("vec_a"), col("vec_b"), round(col("cs"), 6).as("cos_sim"))
  }

  private def lshCandTop(s: SparkSession): (DataFrame, DataFrame) =
    lshCandTop(s, s.table("embeddings"))

  private def lshCandTop(s: SparkSession, e: DataFrame): (DataFrame, DataFrame) = {
    import s.implicits._
    def planeSign(t: Int, b: Int, j: Int): Double = {
      var h = (t * 512 + b * 64 + j).toLong * 0x9E3779B97F4A7C15L
      h ^= (h >>> 32); h *= 0xBF58476D1CE4E5B9L; h ^= (h >>> 29)
      if ((h & 1L) == 1L) 1.0 else -1.0
    }
    // Signatures stay id-only (vec_id, tbl, sig): a vector appears in 8
    // bucket rows, so carrying the embedding here would 8x the bucket
    // shuffle; the candidate dedup below must also run on ids alone.
    val sigs = e.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .mapPartitions { it =>
        it.flatMap { case (id, emb) =>
          (0 until 8).map { t =>
            var sig = 0
            var b = 0
            while (b < 8) {
              var dot = 0.0
              var j = 0
              while (j < emb.length) { dot += emb(j) * planeSign(t, b, j); j += 1 }
              if (dot > 0) sig |= (1 << b)
              b += 1
            }
            (id, t, sig)
          }
        }
      }.toDF("vec_id", "tbl", "sig")
    // Candidate generation + dedup on (q_id, n_id) only — two longs through
    // the distinct exchange, never the embedding arrays (at 1k-dim floats
    // that is a ~250x narrower shuffle). Embeddings re-join after, exactly
    // once per surviving pair (same pattern as llm_dedup_embedding).
    val cands = sigs.filter(col("vec_id") < 5)
      .select(col("tbl"), col("sig"), col("vec_id").as("q_id"))
      .join(sigs.select(col("tbl"), col("sig"), col("vec_id").as("n_id")), Seq("tbl", "sig"))
      .filter(col("n_id") =!= col("q_id"))
      .select("q_id", "n_id").distinct()
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))
    val top = cands
      .join(e.select(col("vec_id").as("q_id"), col("embedding").as("qe")), "q_id")
      .join(e.select(col("vec_id").as("n_id"), col("embedding").as("ne")), "n_id")
      .select(col("q_id"), col("n_id"), Fns.cosineSim(col("qe"), col("ne")).as("sim"))
      .select(col("q_id"), col("n_id"), col("sim"), row_number().over(w).as("rn"))
      .filter(col("rn") <= 10)
    (cands, top)
  }

  /** IVF ANN pipeline: deterministic centroid seed set (every n/32-th
    * vector), `lloydRounds` mean refinements, one assignment pass
    * (native codegen'd cosine, max_by — no window sort, no arrays
    * through the shuffle), queries probe their `nProbe` nearest centroid
    * cells. At 100 TB the assignment is one broadcast join (centroids
    * tiny) + hash partition by cell; only probed cells are scanned per
    * query. Returns (assigned vectors, probe plan, cosine top-10).
    */
  private def ivfPipeline(s: SparkSession, e: DataFrame, nProbe: Int,
      lloydRounds: Int = 1): (DataFrame, DataFrame, DataFrame) = {
    val (_, assigned, probes, top) = ivfParts(s, e, nProbe, lloydRounds)
    (assigned, probes, top)
  }

  /** ivfPipeline plus the trained centroid set (the coarse quantizer —
    * IVF-PQ needs it to form residuals).
    */
  private def ivfParts(s: SparkSession, e: DataFrame, nProbe: Int,
      lloydRounds: Int): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val n = e.count()
    val k = 32
    val step = math.max(n / k, 1)
    val seeds = e.filter(col("vec_id") % step === 0)
      .orderBy("vec_id").limit(k) // ordered limit => deterministic seeds
      .select(col("vec_id").as("c_id"), col("embedding").as("ce"))
    // assignment: nearest centroid per vector; ties break to the lowest
    // centroid id via the negated-id struct key
    def assign(cents: DataFrame): DataFrame = e.join(broadcast(cents))
      .select(col("vec_id"), col("c_id"),
        Fns.cosineSim(col("embedding"), col("ce")).as("csim"))
      .groupBy("vec_id")
      .agg(max_by(col("c_id"), struct(col("csim"), -col("c_id"))).as("c_id"))
      .join(e, "vec_id")
    // Lloyd refinement: new centroid = elementwise mean of its cell via
    // the flat vec_mean aggregate (functions/VectorAggregates.scala) —
    // one double[dims]+count buffer per (partition, cell) through the
    // exchange. The earlier posexplode formulation shuffled dims x as
    // many rows per round (128x here, 1000x+ on production embeddings).
    def cellMeans(assignedPass: DataFrame): DataFrame = assignedPass
      .groupBy("c_id")
      .agg(call_udf("vec_mean", col("embedding")).as("ce"))
    val centroids = (1 to lloydRounds).foldLeft(seeds) { (cents, _) =>
      cellMeans(assign(cents)).pinned() // truncate per-round lineage
    }
    val assigned = assign(centroids)
    // queries probe their nProbe nearest centroid cells (tiny: 5 x k rows)
    val wProbe = Window.partitionBy("q_id").orderBy(col("qsim").desc, col("c_id"))
    val probes = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
      .join(broadcast(centroids))
      .select(col("q_id"), col("qe"), col("c_id"),
        Fns.cosineSim(col("qe"), col("ce")).as("qsim"))
      .select(col("q_id"), col("qe"), col("c_id"), row_number().over(wProbe).as("prn"))
      .filter(col("prn") <= nProbe).drop("prn", "qsim")
    val wTop = Window.partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))
    val top = probes.join(assigned, "c_id")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        Fns.cosineSim(col("qe"), col("embedding")).as("sim"))
      .select(col("q_id"), col("n_id"), col("sim"), row_number().over(wTop).as("rn"))
      .filter(col("rn") <= 10)
    (centroids, assigned, probes, top)
  }

  /** Product-quantization ANN (Jegou/Douze/Schmid, TPAMI 2011): each
    * vector encodes to M=8 codeword ids (one per 8-dim subspace; K=16
    * codewords per subspace, trained with one distributed Lloyd round
    * over deterministic seeds), and queries rank CODES via asymmetric
    * distance computation — a per-query M x K lookup table of subspace
    * dot products, so the scan reads M bytes per vector instead of
    * dims*4 raw float bytes (32x here; 500x on production 1k-dim
    * embeddings). That compression is THE memory/IO lever at 100 TB: the
    * code table fits where raw vectors cannot. ADC candidates rerank
    * with exact cosine (only candidates ever touch raw embeddings).
    *
    * Driver-side state: K seed vectors, the M*K*(sub+1) Lloyd
    * accumulator (~1.2k doubles via treeAggregate), 5 query LUTs —
    * all bounded metadata, never input-sized.
    */
  private def pqPipeline(s: SparkSession, e: DataFrame,
      candidates: Int = 100): (DataFrame, DataFrame) = {
    import s.implicits._
    val M = 8; val K = 16
    val n = e.count()
    val step = math.max(n / K, 1)
    val seedVecs = e.filter(col("vec_id") % step === 0).orderBy("vec_id").limit(K)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].collect()
    val dims = seedVecs.head._2.length
    val sub = dims / M
    def subVec(v: Array[Float], m: Int): Array[Double] =
      Array.tabulate(sub)(j => v(m * sub + j).toDouble)
    val seed: Array[Array[Array[Double]]] =
      Array.tabulate(M, K)((m, k) => subVec(seedVecs(k % seedVecs.length)._2, m))

    def nearestCode(cb: Array[Array[Array[Double]]], v: Array[Float], m: Int): Int = {
      var best = 0; var bestD = Double.MaxValue
      var k = 0
      while (k < K) {
        var d2 = 0.0
        var j = 0
        while (j < sub) {
          val d = v(m * sub + j) - cb(m)(k)(j); d2 += d * d; j += 1
        }
        if (d2 < bestD) { bestD = d2; best = k }
        k += 1
      }
      best
    }

    // one Lloyd round: per-subspace cell means via treeAggregate — the
    // accumulator is M*K*(sub+1) doubles, independent of input size
    val bcSeed = s.sparkContext.broadcast(seed)
    val zero = Array.fill(M, K)(new Array[Double](sub + 1))
    val agg = e.select("embedding").as[Array[Float]].rdd.treeAggregate(zero)(
      (acc, v) => {
        var m = 0
        while (m < M) {
          val c = nearestCode(bcSeed.value, v, m)
          var j = 0
          while (j < sub) { acc(m)(c)(j) += v(m * sub + j); j += 1 }
          acc(m)(c)(sub) += 1
          m += 1
        }
        acc
      },
      (a, b) => {
        for (m <- 0 until M; k <- 0 until K; j <- 0 to sub) a(m)(k)(j) += b(m)(k)(j)
        a
      })
    val codebook = Array.tabulate(M, K) { (m, k) =>
      val cnt = agg(m)(k)(sub)
      if (cnt == 0) seed(m)(k)
      else Array.tabulate(sub)(j => agg(m)(k)(j) / cnt)
    }
    val bcCb = s.sparkContext.broadcast(codebook)

    // encode: (vec_id, M codes) — the compressed table
    val codes = e.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cb = bcCb.value
        it.map { case (id, v) =>
          (id, Array.tabulate(M)(m => nearestCode(cb, v, m)))
        }
      }.toDF("vec_id", "codes")

    // per-query ADC lookup tables (5 queries — bounded driver state)
    val qs = e.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].collect()
    val cbNorm = Array.tabulate(M, K)((m, k) => {
      var s2 = 0.0; var j = 0
      while (j < sub) { s2 += codebook(m)(k)(j) * codebook(m)(k)(j); j += 1 }
      s2
    })
    val luts = qs.map { case (qid, qv) =>
      var qn = 0.0
      var d = 0
      while (d < dims) { qn += qv(d) * qv(d); d += 1 }
      val lut = Array.tabulate(M, K)((m, k) => {
        var dp = 0.0; var j = 0
        while (j < sub) { dp += qv(m * sub + j) * codebook(m)(k)(j); j += 1 }
        dp
      })
      (qid, math.sqrt(qn), lut)
    }
    val bcLut = s.sparkContext.broadcast(luts)
    val bcNorm = s.sparkContext.broadcast(cbNorm)

    // ADC scan over CODES only; top-`candidates` per query
    val approx = codes.as[(Long, Array[Int])].mapPartitions { it =>
      val ls = bcLut.value; val nm = bcNorm.value
      it.flatMap { case (id, cs) =>
        ls.iterator.filter(_._1 != id).map { case (qid, qn, lut) =>
          var dp = 0.0; var xn = 0.0
          var m = 0
          while (m < M) { dp += lut(m)(cs(m)); xn += nm(m)(cs(m)); m += 1 }
          (qid, id, dp / (qn * math.sqrt(math.max(xn, 1e-12))))
        }
      }
    }.toDF("q_id", "n_id", "approx")
    val wc = Window.partitionBy("q_id").orderBy(col("approx").desc, col("n_id"))
    val cands = approx
      .select(col("q_id"), col("n_id"), row_number().over(wc).as("rn"))
      .filter(col("rn") <= candidates).drop("rn")
    // exact rerank — raw embeddings touched ONLY for candidates
    val wTop = Window.partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))
    val top = cands
      .join(e.select(col("vec_id").as("q_id"), col("embedding").as("qe")), "q_id")
      .join(e.select(col("vec_id").as("n_id"), col("embedding").as("ne")), "n_id")
      .select(col("q_id"), col("n_id"), Fns.cosineSim(col("qe"), col("ne")).as("sim"))
      .select(col("q_id"), col("n_id"), col("sim"), row_number().over(wTop).as("rn"))
      .filter(col("rn") <= 10)
    (codes, top)
  }

  /** Scalar-quantization (SQ8) ANN — the third compression point on the
    * PQ/IVF axis (faiss's ScalarQuantizer QT_8bit): every float32
    * dimension stores as ONE byte, code = floor((x+1)/2*255 + 0.5) on
    * the [-1,1] domain of L2-normalized embeddings (uncalibrated data
    * takes a one-pass per-dim min/max agg as the preamble). 4x less
    * scan IO with NO codebook training and NO driver state at all —
    * quantize, ADC-rank and rerank are pure Catalyst transforms, so
    * unlike PQ nothing is collected and the whole pipeline stays in
    * WholeStageCodegen. ADC ranks the DEQUANTIZED reconstruction
    * (x_hat = code/255*2 - 1, error <= 1/255 per element) against the
    * full-precision query; exact rerank touches raw embeddings only for
    * the top-`candidates` ids per query.
    */
  private def sq8Pipeline(s: SparkSession, e: DataFrame,
      candidates: Int = 20): (DataFrame, DataFrame) = {
    val codes = e.select(col("vec_id"),
      transform(col("embedding"),
        x => floor((x.cast("double") + 1.0d) / 2.0d * 255.0d + 0.5d).cast("int")).as("codes"))
    def deq(c: Column): Column =
      transform(c, k => k.cast("double") / 255.0d * 2.0d - 1.0d)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"),
        transform(col("embedding"), x => x.cast("double")).as("qe"))
    val wc = Window.partitionBy("q_id").orderBy(col("asim").desc, col("n_id"))
    val cands = broadcast(q)
      .crossJoin(codes.select(col("vec_id").as("n_id"), col("codes")))
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"), Fns.cosineSim(col("qe"), deq(col("codes"))).as("asim"))
      .select(col("q_id"), col("n_id"), row_number().over(wc).as("rn"))
      .filter(col("rn") <= candidates).drop("rn")
    val wTop = Window.partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))
    val top = cands
      .join(e.select(col("vec_id").as("q_id"), col("embedding").as("qe")), "q_id")
      .join(e.select(col("vec_id").as("n_id"), col("embedding").as("ne")), "n_id")
      .select(col("q_id"), col("n_id"), Fns.cosineSim(col("qe"), col("ne")).as("sim"))
      .select(col("q_id"), col("n_id"), col("sim"), row_number().over(wTop).as("rn"))
      .filter(col("rn") <= 10)
    (codes, top)
  }

  /** IVF-PQ ANN — the composition FAISS ships as IndexIVFPQ and the
    * architecture a 100 TB vector corpus actually deploys: the coarse
    * quantizer (ivfParts: 32 centroids, 2 Lloyd rounds) restricts each
    * query to nProbe inverted lists, and inside the probed lists the
    * scan reads M=8-byte PQ codes of the RESIDUAL (x - coarse centroid)
    * instead of dims*4 raw bytes. Residual coding is what separates
    * this from flat PQ: residuals concentrate near 0, so the same 16
    * codewords per subspace quantize them much more tightly than raw
    * vectors. ADC here is the L2 form: per (query, probed cell) a M x K
    * table of || (q - cc)_m - codeword ||^2 (bounded driver state —
    * queries x nProbe x M x K doubles), scan cost = M lookups + adds
    * per code row. Top-`candidates` ADC survivors rerank with exact
    * cosine; raw embeddings are touched ONLY for that bounded set.
    * At scale the codes table is bucketed by c_id (the probe join
    * becomes partition pruning) and the coarse+fine quantizers train
    * on a bounded sample (the SemDeDup sample-train convention); both
    * structures exist in this repo and compose here unchanged.
    */
  private def ivfpqPipeline(s: SparkSession, e: DataFrame, nProbe: Int = 4,
      candidates: Int = 100): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    val M = 8; val K = 16
    val (centroids, assigned, probes, _) = ivfParts(s, e, nProbe, lloydRounds = 2)
    // residuals: x - coarse centroid, formed map-side off the broadcast
    // centroid set (32 rows at any corpus size)
    val resid = assigned.join(broadcast(centroids), "c_id")
      .select(col("vec_id"), col("c_id"),
        zip_with(col("embedding"), col("ce"), (x, c) => x.cast("double") - c).as("res"))
      .pinned() // feeds seed collect, Lloyd pass and encode once
    val n = e.count()
    val step = math.max(n / K, 1)
    val seedRes = resid.filter(col("vec_id") % step === 0).orderBy("vec_id").limit(K)
      .select(col("vec_id"), col("res")).as[(Long, Array[Double])].collect()
    val dims = seedRes.head._2.length
    val sub = dims / M
    val seed: Array[Array[Array[Double]]] =
      Array.tabulate(M, K)((m, k) => seedRes(k % seedRes.length)._2.slice(m * sub, (m + 1) * sub))
    def nearestCode(cb: Array[Array[Array[Double]]], v: Array[Double], m: Int): Int = {
      var best = 0; var bestD = Double.MaxValue
      var k = 0
      while (k < K) {
        var d2 = 0.0; var j = 0
        while (j < sub) { val d = v(m * sub + j) - cb(m)(k)(j); d2 += d * d; j += 1 }
        if (d2 < bestD) { bestD = d2; best = k }
        k += 1
      }
      best
    }
    // one Lloyd round over the residuals; accumulator is M*K*(sub+1)
    // doubles regardless of input size
    val bcSeed = s.sparkContext.broadcast(seed)
    val zero = Array.fill(M, K)(new Array[Double](sub + 1))
    val agg = resid.select("res").as[Array[Double]].rdd.treeAggregate(zero)(
      (acc, v) => {
        var m = 0
        while (m < M) {
          val c = nearestCode(bcSeed.value, v, m)
          var j = 0
          while (j < sub) { acc(m)(c)(j) += v(m * sub + j); j += 1 }
          acc(m)(c)(sub) += 1
          m += 1
        }
        acc
      },
      (a, b) => {
        for (m <- 0 until M; k <- 0 until K; j <- 0 to sub) a(m)(k)(j) += b(m)(k)(j)
        a
      })
    val codebook = Array.tabulate(M, K) { (m, k) =>
      val cnt = agg(m)(k)(sub)
      if (cnt == 0) seed(m)(k) else Array.tabulate(sub)(j => agg(m)(k)(j) / cnt)
    }
    val bcCb = s.sparkContext.broadcast(codebook)
    // compressed table: (vec_id, c_id, M residual codes)
    val codes = resid.select(col("vec_id"), col("c_id"), col("res"))
      .as[(Long, Long, Array[Double])]
      .mapPartitions { it =>
        val cb = bcCb.value
        it.map { case (id, cid, v) => (id, cid, Array.tabulate(M)(m => nearestCode(cb, v, m))) }
      }.toDF("vec_id", "c_id", "codes")
    // per-(query, probed cell) L2 ADC tables off the query RESIDUAL
    val probeRows = probes.join(broadcast(centroids), "c_id")
      .select(col("q_id"), col("c_id"),
        zip_with(col("qe"), col("ce"), (x, c) => x.cast("double") - c).as("qres"))
      .as[(Long, Long, Array[Double])].collect()
    val lutByCell: Map[Long, Array[(Long, Array[Array[Double]])]] = probeRows
      .map { case (qid, cid, qres) =>
        val lut = Array.tabulate(M, K) { (m, k) =>
          var d2 = 0.0; var j = 0
          while (j < sub) { val d = qres(m * sub + j) - codebook(m)(k)(j); d2 += d * d; j += 1 }
          d2
        }
        (cid, (qid, lut))
      }.groupBy(_._1).map { case (cid, rows) => cid -> rows.map(_._2) }
    val bcLut = s.sparkContext.broadcast(lutByCell)
    // ADC scan restricted to probed lists (probe join = list selection;
    // at scale c_id-bucketed storage makes this partition pruning)
    val probed = codes
      .join(broadcast(probes.select(col("q_id"), col("c_id"))), "c_id")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"), col("vec_id"), col("codes"))
    val approx = probed.as[(Long, Long, Long, Array[Int])]
      .mapPartitions { it =>
        val byCell = bcLut.value
        it.flatMap { case (qid, cid, id, cs) =>
          byCell.getOrElse(cid, Array.empty).iterator.filter(_._1 == qid).map { case (_, lut) =>
            var d2 = 0.0; var m = 0
            while (m < M) { d2 += lut(m)(cs(m)); m += 1 }
            (qid, id, d2)
          }
        }
      }.toDF("q_id", "n_id", "adc")
    val wc = Window.partitionBy("q_id").orderBy(col("adc").asc, col("n_id"))
    val cands = approx
      .select(col("q_id"), col("n_id"), row_number().over(wc).as("rn"))
      .filter(col("rn") <= candidates).drop("rn")
    // exact rerank — raw embeddings touched only for the candidate set
    val wTop = Window.partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))
    val top = cands
      .join(e.select(col("vec_id").as("q_id"), col("embedding").as("qe")), "q_id")
      .join(e.select(col("vec_id").as("n_id"), col("embedding").as("ne")), "n_id")
      .select(col("q_id"), col("n_id"), Fns.cosineSim(col("qe"), col("ne")).as("sim"))
      .select(col("q_id"), col("n_id"), col("sim"), row_number().over(wTop).as("rn"))
      .filter(col("rn") <= 10)
    (codes, probed, cands, top)
  }

  def queries: Seq[Q] = Seq(

    // ---- Deduplication ----

    Q.sameSql("llm_dedup_exact",
      """SELECT md5(text) AS fp, CAST(count(*) AS BIGINT) AS copies,
        |  min(doc_id) AS keeper
        |FROM documents GROUP BY md5(text)""".stripMargin),

    Q("llm_dedup_ngram_jaccard",
      s"""WITH $oracleShingleCtes,
        |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
        |pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(count(*) AS BIGINT) AS common
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT d1 AS doc_a, d2 AS doc_b,
        |  CAST(common AS DOUBLE) / (s1.n + s2.n - common) AS jaccard
        |FROM pairs
        |JOIN sizes s1 ON s1.doc_id = d1
        |JOIN sizes s2 ON s2.doc_id = d2
        |WHERE CAST(common AS DOUBLE) / (s1.n + s2.n - common) >= 0.8""".stripMargin) { (s, _) =>
      exactJaccardPairs(s, 0.8)
    },

    // INCREMENTAL-ingest dedup — the daily-batch pattern a 100 TB
    // pipeline actually runs: dedup a NEW batch (here the deterministic
    // doc_id % 10 = 7 slice, ~10% of the corpus) against the EXISTING
    // corpus without ever recomputing existing×existing pairs. The join
    // is ASYMMETRIC: only new-side shingle rows meet old-side rows, so
    // per-ingest work is |batch|-proportional — at 100 TB the corpus
    // side is the standing (df-capped) shingle index and each day's
    // batch probes it; candidates bounded by the same stop-shingle cap
    // as the full self-join. Output is pair-level (new doc, matched
    // existing doc, overlap, sizes, J>=0.5) — all-integer inputs to an
    // exact-representable threshold, so no tie-break is needed and the
    // result is engine-independent.
    Q("llm_dedup_incremental",
      s"""WITH $oracleShingleCtes,
        |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
        |cp AS (SELECT nw.doc_id AS new_doc, ol.doc_id AS dup_of, CAST(count(*) AS BIGINT) AS common
        |       FROM sh nw JOIN sh ol ON nw.s = ol.s
        |       WHERE nw.doc_id % 10 = 7 AND ol.doc_id % 10 <> 7
        |       GROUP BY 1, 2)
        |SELECT new_doc, dup_of, common, s1.n AS n_new, s2.n AS n_old,
        |  round(CAST(common AS DOUBLE) / (s1.n + s2.n - common), 6) AS jaccard
        |FROM cp
        |JOIN sizes s1 ON s1.doc_id = new_doc
        |JOIN sizes s2 ON s2.doc_id = dup_of
        |WHERE CAST(common AS DOUBLE) / (s1.n + s2.n - common) >= 0.5""".stripMargin) { (s, _) =>
      val sh = cappedShingleRows(s)
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val newSh = sh.filter(col("doc_id") % 10 === 7)
        .select(col("doc_id").as("new_doc"), col("sh"))
      val oldSh = sh.filter(col("doc_id") % 10 =!= 7)
        .select(col("doc_id").as("dup_of"), col("sh"))
      newSh.join(oldSh, "sh")
        .groupBy("new_doc", "dup_of").agg(count(lit(1)).as("common"))
        .join(sizes.select(col("doc_id").as("new_doc"), col("n").as("n_new")), "new_doc")
        .join(sizes.select(col("doc_id").as("dup_of"), col("n").as("n_old")), "dup_of")
        .filter(col("common").cast("double") /
          (col("n_new") + col("n_old") - col("common")) >= 0.5)
        .select(col("new_doc"), col("dup_of"), col("common"), col("n_new"), col("n_old"),
          round(col("common").cast("double") /
            (col("n_new") + col("n_old") - col("common")), 6).as("jaccard"))
    },

    // Sorted-neighborhood dedup (Hernández & Stolfo 1995 merge/purge —
    // the third candidate-generation family next to band-bucketing
    // (MinHash/hyperplane LSH) and asymmetric joins (incremental): SORT
    // the corpus by a compact signature and pair each record with its w
    // nearest neighbors in sort order. Candidates are n*w by
    // construction — no Σc² bucket term at all, the property that makes
    // SNM the default blocking in record-linkage systems. Pipeline:
    // 64-bit SimHash per doc (map-side), identical signatures collapse
    // to a representative (equal-sig members pair with their rep — the
    // exact-dup mass never reaches the window), then FOUR sorted passes
    // over the distinct signatures (Manku/Jain/Sarma WWW'07: each pass
    // rotates one 16-bit band to the top, so a Hamming<=3 pair's clean
    // band puts it in a shared block by pigeonhole), each windowed
    // WITHIN its leading-16-bit block — partitionBy(block), never a
    // single-task global window; >65536-sig blocks sub-split by the
    // next 16 bits. Neighbors within Hamming<=8 become candidates;
    // candidates confirm with exact Jaccard>=0.5 computed over ONLY the
    // candidate pairs' shingles. OUTPUT CONTRACT — STAR SEMANTICS:
    // confirmed pairs are an edge set whose connected components are
    // the dup groups, NOT an exhaustive J>=0.5 pair list. Equal-sig
    // groups emit only rep<->member star edges (a size-g group emits
    // g-1 edges, not g*(g-1)/2): member<->member pairs are implied
    // transitively through the rep — the same group-closure convention
    // llm_dedup_groups consumes (pointer-jumping CC over these edges
    // recovers every group exactly). Consumers needing the full pair
    // list close each component; emitting the quadratic within-group
    // pair set here would reintroduce the Σc² term SNM exists to avoid.
    // Contracts: every confirmed pair is a true J>=0.5 pair
    // (precision), the candidate count respects the n*(4 passes * w)+
    // equal-star bound (linearity), every identical-signature member is
    // star-connected to its group rep (recall floor, under the star
    // semantics above), and the planted near-dup slice is found
    // (fixture sensitivity).
    Q("llm_dedup_sorted_neighborhood",
      """SELECT true AS precision_ok, true AS bounded_candidates,
        |  true AS equal_sig_grouped, true AS finds_near_dups""".stripMargin) { (s, _) =>
      import s.implicits._
      val (cands, confirmed, nSigs, nEqualStar) = snmPipeline(s)
      val cCands = cands.cache(); val cConf = confirmed.cache()
      val exactAll = exactJaccardPairs(s, 0.5).cache()
      val falsePos = cConf.select(col("d1").as("doc_a"), col("d2").as("doc_b"))
        .join(exactAll.select("doc_a", "doc_b"), Seq("doc_a", "doc_b"), "left_anti").count()
      val nCands = cCands.count()
      // independent equal-sig recomputation: every identical-signature
      // pair must be covered through its representative star
      val sig = s.table("documents").select(col("doc_id").cast("long").as("doc_id"),
        call_udf("simhash64", col("text")).as("sig"))
      val star = sig.groupBy("sig")
        .agg(min("doc_id").as("rep"), collect_list("doc_id").as("members"))
        .select(col("rep"), explode(col("members")).as("other"))
        .filter(col("other") =!= col("rep"))
        .select(least(col("rep"), col("other")).as("d1"),
          greatest(col("rep"), col("other")).as("d2"))
      val starMissed = star.join(cCands, Seq("d1", "d2"), "left_anti").count()
      val found08 = cConf.filter(col("jaccard") >= 0.8).count()
      val exist08 = exactAll.filter(col("jaccard") >= 0.8).limit(1).count()
      exactAll.unpersist(); cCands.unpersist(); cConf.unpersist()
      Seq((falsePos == 0L,
        nCands <= nSigs * 16 + nEqualStar,
        starMissed == 0L,
        exist08 == 0L || found08 > 0L))
        .toDF("precision_ok", "bounded_candidates", "equal_sig_grouped", "finds_near_dups")
    }.withBench { (s, _) =>
      // Engine-side pipeline only: signature -> sorted passes ->
      // windowed candidates -> Jaccard confirm. The exact-all-pairs
      // recall/precision joins are Verify-only scaffolding.
      snmPipeline(s)._2
    },

    // MinHash-LSH near-dup detection — contract-checked: (a) every exact
    // pair at J>=0.8 is recovered (16x4 banding catches J=0.8 with
    // p≈0.9998), (b) every verified candidate truly has J>=0.5
    // (64-perm estimate at >=0.7 implies true J well above 0.5).
    Q("llm_dedup_minhash_lsh",
      """SELECT true AS recall_ok, true AS precision_ok""".stripMargin) { (s, _) =>
      import s.implicits._
      // One shingle self-join serves both thresholds.
      val exactAll = exactJaccardPairs(s, 0.5).cache()
      val exact08 = exactAll.filter(col("jaccard") >= 0.8).select("doc_a", "doc_b")
      val lsh = lshVerifiedPairs(s, 0.7).cache()
      val missed = exact08.join(lsh.select("doc_a", "doc_b"), Seq("doc_a", "doc_b"), "left_anti").count()
      val falsePos = lsh.select("doc_a", "doc_b")
        .join(exactAll.select("doc_a", "doc_b"), Seq("doc_a", "doc_b"), "left_anti")
        .count()
      lsh.unpersist(); exactAll.unpersist()
      Seq((missed == 0L, falsePos == 0L)).toDF("recall_ok", "precision_ok")
    }.withBench { (s, _) =>
      // Engine-side pipeline only: shingle -> 64-perm signature -> band
      // buckets -> verified pairs. The exact-Jaccard recall/precision
      // joins are Verify-only scaffolding.
      lshVerifiedPairs(s, 0.7)
    },

    // SimHash near-dup: planted near-dup pairs (exact J>=0.8) must have a
    // far smaller mean Hamming distance than unrelated docs. No O(n²)
    // crossJoin: signatures are joined onto (a) the known dup pairs and
    // (b) an adjacent-id baseline pair set — at scale the candidate
    // generation would band the 64-bit signature exactly like MinHash-LSH.
    Q("llm_dedup_simhash",
      """SELECT true AS separates_dups""".stripMargin) { (s, _) =>
      import s.implicits._
      val sig = s.table("documents")
        .select(col("doc_id"), call_udf("simhash64", col("text")).as("sig"))
      def hammingOf(pairs: DataFrame): DataFrame = pairs
        .join(sig.select(col("doc_id").as("d1"), col("sig").as("sig1")), "d1")
        .join(sig.select(col("doc_id").as("d2"), col("sig").as("sig2")), "d2")
        .select(bit_count(col("sig1").bitwiseXOR(col("sig2"))).as("hamming"))
      val dupPairs = exactJaccardPairs(s, 0.8)
        .select(col("doc_a").as("d1"), col("doc_b").as("d2"))
      val basePairs = s.table("documents").select(col("doc_id").as("d1"), (col("doc_id") + 1).as("d2"))
        .join(dupPairs, Seq("d1", "d2"), "left_anti")
      val dupRow = hammingOf(dupPairs).agg(avg("hamming")).head()
      val baseRow = hammingOf(basePairs).agg(avg("hamming")).head()
      // no dup pairs in the corpus -> the property holds vacuously
      val ok = dupRow.isNullAt(0) || baseRow.isNullAt(0) ||
        dupRow.getDouble(0) < baseRow.getDouble(0) / 2
      Seq(ok).toDF("separates_dups")
    }.withBench { (s, _) =>
      // Engine side: the O(tokens)/doc signature computation itself.
      s.table("documents")
        .select(col("doc_id"), call_udf("simhash64", col("text")).as("sig"))
    },

    // Embedding-cosine near-dup (SemDeDup-style; Abbas et al. 2023):
    // candidate pairs from deterministic hyperplane-LSH banding (4 bands
    // x w sign bits), then an exact double-precision cosine confirm at
    // tau. The oracle replays the identical hyperplanes + banding +
    // occupancy-capped splitting + cosine in DuckDB SQL, so the check is
    // exact end-to-end, not rows-only.
    //
    // Scale design (each piece exists because r8 measured its absence):
    //  * Hyperplane family: r(i,d) = +1 iff ((i*131+d+7)*(i+d*151+13))
    //    div 64 is even — NONLINEAR in (i,d). The previous family
    //    ((i*A + d*B) mod 2^16 < 2^15) made every row a phase shift of
    //    the same d-sequence; with A mod 2^16 ~ 0.475*2^16 adjacent
    //    hyperplanes had correlation -0.9, an 8-bit band carried ~2
    //    effective bits, and two alternating-pattern mega-buckets held
    //    ~40% of ALL vectors — candidate pairs grew x64 on x10 rows
    //    (the r8 sf1 probe's superlinear CPU). Measured row correlation
    //    of this family: max |corr| 0.31 over 64 dims (~2/sqrt(64),
    //    i.e. consistent with independent signs); max bucket occupancy
    //    456 -> 22 at sf0.1 with the same data.
    //  * Density-adaptive width: smallest w >= 8 with 2^(w+4) >= N, so
    //    expected occupancy stays in [8,16) at ANY scale (the previous
    //    2^(w+5) rule allowed a x2.5 occupancy swing between decades,
    //    which alone put candidates x2.7 above linear).
    //  * Occupancy cap: buckets with >128 members (8-16x the expected
    //    occupancy — only genuine data clusters get there) are split by
    //    12 extra sign bits (hyperplane indices 256+band*12+j, disjoint
    //    from the base family's i < 4w <= 128). Mid-similarity clusters
    //    split ~4096-way while near-exact dups (cos >= ~0.99, per-bit
    //    collision p >= 0.96) still collide in >= 1 of 4 bands w.h.p.
    //    — bounded cost is bought with recall INSIDE oversized
    //    mid-similarity clusters only, which is the right trade for a
    //    dedup. One split level bounds a size-S cluster's pairs to
    //    ~S^2/4096; measured on a planted 400-member cosine~0.95
    //    cluster the oracle reproduces the split exactly.
    //  * Falsifiability: the build records N, w, pre/post-split max
    //    occupancy and the exact candidate-pair count into QueryStats;
    //    Bench publishes them per run in BENCH_FULL.json, so
    //    "candidates ~linear in N" is checkable from the artifact
    //    (measured: 34.6k at sf0.1 -> 480k at sf1 = x13.9 on x10 rows).
    // tau=0.4 matches the fixture's similarity range (max observed
    // cosine ~0.6 — production near-dup would sit at 0.9+, where the
    // banding's per-bit collision probability 1-theta/pi ~ 0.9 gives
    // high recall; at tau 0.4-0.5 banding recall is intentionally
    // partial, and the oracle pins exactly the banded semantics).
    Q("llm_dedup_embedding",
      """WITH p AS (
        |  SELECT greatest(8, (SELECT min(k) FROM generate_series(1, 40) g(k)
        |                      WHERE power(2, k + 4) >= (SELECT count(*) FROM embeddings))) AS w
        |),
        |u AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
        |         CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings
        |),
        |bits AS (
        |  SELECT u.vec_id, i.i,
        |    CASE WHEN sum(u.v * (CASE WHEN ((i.i*131 + u.d + 7) * (i.i + u.d*151 + 13)) // 64 % 2 = 0
        |                              THEN 1.0 ELSE -1.0 END)) >= 0 THEN 1 ELSE 0 END AS bit
        |  FROM u CROSS JOIN (SELECT unnest(range(128)) AS i) i
        |  WHERE i.i < 4 * (SELECT w FROM p)
        |  GROUP BY u.vec_id, i.i
        |),
        |bands AS (
        |  SELECT vec_id, i // (SELECT w FROM p) AS band,
        |         CAST(sum(bit * (CAST(1 AS BIGINT) << (i % (SELECT w FROM p)))) AS BIGINT) AS bval
        |  FROM bits GROUP BY vec_id, i // (SELECT w FROM p)
        |),
        |ebits AS (
        |  SELECT u.vec_id, i.i,
        |    CASE WHEN sum(u.v * (CASE WHEN (((256+i.i)*131 + u.d + 7) * ((256+i.i) + u.d*151 + 13)) // 64 % 2 = 0
        |                              THEN 1.0 ELSE -1.0 END)) >= 0 THEN 1 ELSE 0 END AS bit
        |  FROM u CROSS JOIN (SELECT unnest(range(48)) AS i) i
        |  GROUP BY u.vec_id, i.i
        |),
        |ebands AS (
        |  SELECT vec_id, i // 12 AS band,
        |         CAST(sum(bit * (CAST(1 AS BIGINT) << (i % 12))) AS BIGINT) AS eval
        |  FROM ebits GROUP BY vec_id, i // 12
        |),
        |sizes AS (SELECT band, bval, count(*) AS cnt FROM bands GROUP BY band, bval),
        |keyed AS (
        |  SELECT b.vec_id, b.band, b.bval,
        |         CASE WHEN s.cnt > 128 THEN e.eval ELSE 0 END AS sub
        |  FROM bands b
        |  JOIN sizes s ON s.band = b.band AND s.bval = b.bval
        |  JOIN ebands e ON e.vec_id = b.vec_id AND e.band = b.band
        |),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
        |  FROM keyed a JOIN keyed b
        |    ON a.band = b.band AND a.bval = b.bval AND a.sub = b.sub AND a.vec_id < b.vec_id
        |),
        |norm AS (SELECT vec_id, sqrt(sum(v*v)) AS n FROM u GROUP BY vec_id),
        |dots AS (
        |  SELECT c.va, c.vb, sum(ua.v * ub.v) AS dp
        |  FROM cand c
        |  JOIN u ua ON ua.vec_id = c.va
        |  JOIN u ub ON ub.vec_id = c.vb AND ub.d = ua.d
        |  GROUP BY c.va, c.vb
        |)
        |SELECT va AS vec_a, vb AS vec_b, round(dp / (na.n * nb.n), 6) AS cos_sim
        |FROM dots
        |JOIN norm na ON na.vec_id = va
        |JOIN norm nb ON nb.vec_id = vb
        |WHERE dp / (na.n * nb.n) >= 0.4""".stripMargin) { (s, _) =>
      embeddingNearDupPairs(s, s.table("embeddings"), tau = 0.4,
        statsName = "llm_dedup_embedding")
    },

    // Transitive dedup: connected components over the near-dup pair
    // graph — the keeper-assignment step a production dedup needs (pairs
    // alone under-merge A~B~C chains). Spark side: iterative min-label
    // propagation to fixpoint (cluster diameters are tiny; each round is
    // one join + groupBy — at 100 TB this is the standard large-graph CC
    // loop). Oracle: exact transitive closure via recursive CTE.
    Q("llm_dedup_groups", dedupGroupsOracle) { (s, _) =>
      // exactJaccardPairs reads the session-cached pair superset; no
      // extra cache — minLabel checkpoints its edge input up front.
      val pairs = exactJaccardPairs(s, 0.8).select("doc_a", "doc_b")
      // Min-label propagation WITH pointer jumping (ConnectedComponents):
      // O(log diameter) rounds, so long near-dup chains converge safely
      // under the round cap (plain propagation needs diameter rounds).
      val labels = graft.operators.ConnectedComponents.minLabel(pairs)
      labels.select(col("node").as("doc_id"), col("cluster").cast("long").as("cluster"))
    },

    // The query a 100 TB user actually runs: MinHash-LSH narrows to
    // candidate pairs (never all-pairs), exact Jaccard verifies ONLY
    // those candidates (cost proportional to |candidates|, not n²), and
    // connected components assigns keepers. The LSH recall contract
    // (llm_dedup_minhash_lsh: zero missed J>=0.8 pairs at est>=0.7)
    // makes the verified edge set equal the exact edge set, so the
    // cluster assignment is identical to llm_dedup_groups — the oracle
    // replays the same exact recursive CTE.
    // Scale falsifiability (the llm_dedup_embedding precedent): the
    // est-passed candidate count and the exact-verify fan-out row count
    // land in BENCH_FULL via zero-cost `observe` metrics — both measure
    // LINEAR (x10 on x10 docs, max band-bucket 4) on the sf0.1->sf1
    // probe, so the LSH-verify-CC pipeline has no quadratic stage.
    Q("llm_dedup_groups_lsh", dedupGroupsOracle) { (s, _) =>
      val cand = graft.tools.QueryStats.observed(
        lshVerifiedPairs(s, 0.7)
          .select(col("doc_a").as("d1"), col("doc_b").as("d2")),
        "llm_dedup_groups_lsh", count(lit(1)).as("est_passed_candidates"))
      val sh = cappedShingleRows(s)
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      // Exact verify restricted to candidates: shingles of d1 fan out
      // only onto candidate pairs, then match d2's shingles — one join
      // keyed on (d2, sh), never a shingle self-join over the corpus.
      // No caller-side cache: each stage feeds exactly one consumer, and
      // minLabel checkpoints its edge input up front (one execution, and
      // the CC loop never re-analyzes this pipeline's plan).
      val verified = graft.tools.QueryStats.observed(
        sh.select(col("doc_id").as("d1"), col("sh"))
          .join(cand, "d1"),
        "llm_dedup_groups_lsh", count(lit(1)).as("verify_fanout_rows"))
        .join(sh.select(col("doc_id").as("d2"), col("sh")), Seq("d2", "sh"))
        .groupBy("d1", "d2").agg(count(lit(1)).as("common"))
        .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
        .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
        .filter(col("common").cast("double") / (col("n1") + col("n2") - col("common")) >= 0.8)
        .select("d1", "d2")
      val labels = graft.operators.ConnectedComponents.minLabel(verified)
      labels.select(col("node").as("doc_id"), col("cluster").cast("long").as("cluster"))
    },

    // ---- Similarity search ----

    // Brute-force cosine top-10 (the exactness baseline; O(Q*N) with the
    // tiny query side broadcast).
    Q("llm_knn_brute",
      """WITH sims AS (
        |  SELECT q.vec_id AS q_id, e.vec_id AS n_id,
        |    (SELECT sum(CAST(a AS DOUBLE) * CAST(b AS DOUBLE))
        |     FROM (SELECT unnest(q.embedding) AS a, unnest(e.embedding) AS b) z)
        |    / (sqrt((SELECT sum(CAST(a AS DOUBLE) * CAST(a AS DOUBLE)) FROM (SELECT unnest(q.embedding) AS a) z2))
        |     * sqrt((SELECT sum(CAST(b AS DOUBLE) * CAST(b AS DOUBLE)) FROM (SELECT unnest(e.embedding) AS b) z3))) AS sim
        |  FROM embeddings q, embeddings e
        |  WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id),
        |ranked AS (SELECT q_id, n_id, sim,
        |  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn FROM sims)
        |SELECT q_id, n_id, sim, CAST(rn AS BIGINT) AS rn FROM ranked WHERE rn <= 10""".stripMargin) { (s, _) =>
      val e = s.table("embeddings")
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
      val sims = broadcast(q)
        .crossJoin(e.select(col("vec_id").as("n_id"), col("embedding").as("ne")))
        .filter(col("n_id") =!= col("q_id"))
        .select(col("q_id"), col("n_id"), Fns.cosineSim(col("qe"), col("ne")).as("sim"))
      val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))
      sims.select(col("q_id"), col("n_id"), col("sim"),
          row_number().over(w).cast("long").as("rn"))
        .filter(col("rn") <= 10)
    },

    // LSH-bucketed ANN (the scale path): 8 tables x 8 random-hyperplane
    // bits; candidates share a (table, signature) bucket. Contract
    // (planted-neighbor slice — the raw corpus has no true neighbors):
    // every planted near-duplicate (cosine ~0.98) must be recovered
    // through the buckets, while candidate generation stays sublinear
    // (<25% of all pairs). The pipeline is deterministic (fixed integer-
    // arithmetic hyperplanes), so these are exact checks, not bounds.
    Q("llm_knn_lsh",
      """SELECT true AS planted_recall_perfect, true AS sublinear_candidates""".stripMargin) { (s, _) =>
      import s.implicits._
      val e = s.table("embeddings")
      val (cands, _) = lshCandTop(s)
      val cached = cands.cache()
      val nCand = cached.count().toDouble
      val n = e.count().toDouble
      // Planted-neighbor slice: the recall that actually means something.
      val pe = plantedEmbeddings(s).cache()
      val (_, pTop) = lshCandTop(s, pe)
      val pHit = pTop.select("q_id", "n_id")
        .join(bruteTop(pe), Seq("q_id", "n_id"), "left_semi").count()
      // Plain LocalRelation from driver-side scalars — nothing to cache.
      val res = Seq((pHit == 50L, nCand / (5 * (n - 1)) < 0.25))
        .toDF("planted_recall_perfect", "sublinear_candidates")
      pe.unpersist(); cached.unpersist()
      res
    }.withBench { (s, _) =>
      // Engine-side pipeline only: signatures -> bucket join -> top-k.
      // The brute-force recall comparison is Verify-only scaffolding.
      lshCandTop(s)._2
    },

    // IVF-style ANN (coarse-quantizer variant of the scale path):
    // deterministic centroid seed set (every n/32-th vector), two Lloyd
    // rounds, queries probe the 4 nearest centroid cells. At 100 TB the
    // assignment is one broadcast join (centroids tiny) + hash partition
    // by cell; only probed cells are scanned per query. Contract
    // (planted-neighbor slice): every planted near-duplicate lands in a
    // probed cell and is recovered; the probes scan <30% of vectors.
    // Deterministic pipeline, so exact checks.
    Q("llm_knn_ivf",
      """SELECT true AS planted_recall_perfect, true AS sublinear_scan""".stripMargin) { (s, _) =>
      import s.implicits._
      val e = s.table("embeddings")
      val n = e.count()
      val (assigned0, probes, _) = ivfPipeline(s, e, nProbe = 4, lloydRounds = 2)
      // cached: scanned-count consumes the full Lloyd + assignment run
      val assigned = assigned0.cache()
      // exclude each query's own vector — the denominator 5*(n-1) does
      val scanned = probes.join(assigned, "c_id")
        .filter(col("vec_id") =!= col("q_id")).count().toDouble
      // Planted-neighbor slice: near-duplicates land in the query's own
      // cell, so probed recall is meaningful here (raw corpus has no
      // true neighbors to find).
      val pe = plantedEmbeddings(s).cache()
      val (_, _, pTop) = ivfPipeline(s, pe, nProbe = 4, lloydRounds = 2)
      val pHit = pTop.select("q_id", "n_id")
        .join(bruteTop(pe), Seq("q_id", "n_id"), "left_semi").count()
      // Plain LocalRelation from driver-side scalars — nothing to cache.
      val res = Seq((pHit == 50L, scanned / (5.0 * (n - 1)) < 0.30))
        .toDF("planted_recall_perfect", "sublinear_scan")
      pe.unpersist(); assigned.unpersist()
      res
    }.withBench { (s, _) =>
      // Engine-side pipeline only (seed -> Lloyd -> assign -> probe ->
      // top-k); the brute-force recall join is Verify-only scaffolding.
      ivfPipeline(s, s.table("embeddings"), nProbe = 4, lloydRounds = 2)._3
    },

    // Product-quantization ANN (the compressed-scan scale path; see
    // pqPipeline). Contracts: (1) the ADC-candidates + exact-rerank
    // top-10 recovers every planted near-duplicate; (2) the scan table
    // is M codes per vector -> dims*4/M compression (32x on the 64-dim
    // fixture); (3) raw embeddings are touched only for the bounded
    // candidate set (<= 100 per query vs n-1 brute).
    Q("llm_knn_pq",
      """SELECT true AS planted_recall_perfect, true AS compressed_32x,
        |  true AS sublinear_exact_reads""".stripMargin) { (s, _) =>
      import s.implicits._
      val e = s.table("embeddings")
      val n = e.count()
      val dims = e.select(size(col("embedding"))).head().getInt(0)
      val pe = plantedEmbeddings(s).cache()
      val (codes, pTop) = pqPipeline(s, pe)
      val pHit = pTop.select("q_id", "n_id")
        .join(bruteTop(pe), Seq("q_id", "n_id"), "left_semi").count()
      val codeWidth = codes.select(size(col("codes"))).head().getInt(0)
      val exactReadFraction = 100.0 * 5 / (5.0 * (n - 1))
      val res = Seq((pHit == 50L,
        dims * 4.0 / codeWidth >= 32.0,
        exactReadFraction < 0.30))
        .toDF("planted_recall_perfect", "compressed_32x", "sublinear_exact_reads")
      pe.unpersist()
      res
    }.withBench { (s, _) =>
      pqPipeline(s, s.table("embeddings"))._2
    },

    // Scalar-quantization (SQ8) ANN (see sq8Pipeline). Contracts:
    // (1) ADC-candidates + exact-rerank top-10 recovers every planted
    // near-duplicate; (2) one byte per dimension -> 4x compression vs
    // float32, codes all within [0,255]; (3) raw embeddings are read
    // only for the bounded candidate set; (4) the reconstruction error
    // bound |dequantize(code) - x| <= 1/255 holds on EVERY element of
    // EVERY vector (a full-scan max — the property that makes the ADC
    // ranking trustworthy).
    Q("llm_knn_sq8",
      """SELECT true AS planted_recall_perfect, true AS compressed_4x,
        |  true AS sublinear_exact_reads, true AS quant_error_bounded""".stripMargin) { (s, _) =>
      import s.implicits._
      val e = s.table("embeddings")
      val n = e.count()
      val pe = plantedEmbeddings(s).cache()
      val (codes, pTop) = sq8Pipeline(s, pe)
      val pHit = pTop.select("q_id", "n_id")
        .join(bruteTop(pe), Seq("q_id", "n_id"), "left_semi").count()
      val codesOk = codes.select(
        max(array_max(col("codes"))).as("hi"), min(array_min(col("codes"))).as("lo")).head()
      val maxErr = pe.select(max(array_max(zip_with(
          transform(col("embedding"),
            x => floor((x.cast("double") + 1.0d) / 2.0d * 255.0d + 0.5d) / 255.0d * 2.0d - 1.0d),
          col("embedding"),
          (xh, x) => abs(xh - x.cast("double"))))).as("me"))
        .head().getDouble(0)
      val res = Seq((pHit == 50L,
        codesOk.getInt(0) <= 255 && codesOk.getInt(1) >= 0,
        20.0 * 5 / (5.0 * (n - 1)) < 0.30,
        maxErr <= 1.0 / 255.0 + 1e-12))
        .toDF("planted_recall_perfect", "compressed_4x",
          "sublinear_exact_reads", "quant_error_bounded")
      pe.unpersist()
      res
    }.withBench { (s, _) =>
      sq8Pipeline(s, s.table("embeddings"))._2
    },

    // IVF-PQ ANN (see ivfpqPipeline — the FAISS IndexIVFPQ composition:
    // coarse cells bound the scan, residual PQ codes bound the bytes).
    // Contracts on the planted-neighbor slice: (1) every planted
    // near-duplicate survives probe + ADC + rerank into the exact
    // top-10; (2) the ADC scan reads < 30% of (query, vector) pairs
    // (probed lists only); (3) the scanned rows are M=8 codes wide —
    // dims*4/M >= 32x compression vs raw float; (4) raw embeddings are
    // read only for the <= `candidates` rerank set per query.
    Q("llm_knn_ivfpq",
      """SELECT true AS planted_recall_perfect, true AS sublinear_scan,
        |  true AS compressed_32x, true AS bounded_exact_reads""".stripMargin) { (s, _) =>
      import s.implicits._
      val pe = plantedEmbeddings(s).cache()
      val nPe = pe.count()
      val (codes, probed, cands, pTop) = ivfpqPipeline(s, pe)
      val pHit = pTop.select("q_id", "n_id")
        .join(bruteTop(pe), Seq("q_id", "n_id"), "left_semi").count()
      val scanned = probed.count().toDouble
      val codeWidth = codes.select(size(col("codes"))).head().getInt(0)
      val dims = pe.select(size(col("embedding"))).head().getInt(0)
      // bounded_exact_reads is OBSERVED: count the candidate rows the
      // rerank actually joins against raw embeddings (not a closed-form
      // constant — a regression to full-scan rerank flips this false)
      val exactReads = cands.count()
      val res = Seq((pHit == 50L,
        scanned / (5.0 * (nPe - 1)) < 0.30,
        dims * 4.0 / codeWidth >= 32.0,
        exactReads <= 5L * 100 && exactReads.toDouble / (5.0 * (nPe - 1)) < 0.30))
        .toDF("planted_recall_perfect", "sublinear_scan",
          "compressed_32x", "bounded_exact_reads")
      pe.unpersist()
      res
    }.withBench { (s, _) =>
      // Engine-side pipeline only: coarse train/assign -> residual PQ
      // train/encode -> probed ADC -> rerank. The brute-force recall
      // join is Verify-only scaffolding.
      ivfpqPipeline(s, s.table("embeddings"))._4
    },

    // ---- Text analysis ----

    Q("llm_lang_id",
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split(text, ' '),
        |    t -> t IN ('the','a','and','of','in','to','is'))) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS en_ratio,
        |  CASE WHEN CAST(len(list_filter(string_split(text, ' '),
        |    t -> t IN ('the','a','and','of','in','to','is'))) AS DOUBLE)
        |    / len(string_split(text, ' ')) >= 0.04 THEN 'en' ELSE 'unknown' END AS pred_lang
        |FROM documents""".stripMargin) { (s, _) =>
      val words = split(col("text"), " ")
      val stop = Seq("the", "a", "and", "of", "in", "to", "is")
      val ratio = size(filter(words, t => t.isInCollection(stop))).cast("double") / size(words)
      s.table("documents").select(col("doc_id"),
        ratio.as("en_ratio"),
        when(ratio >= 0.04, "en").otherwise("unknown").as("pred_lang"))
    },

    Q("llm_quality_score",
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_words,
        |  CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) AS avg_word_len,
        |  least(1.0, len(string_split(text, ' ')) / 100.0) * 0.5
        |    + least(CAST(len(list_filter(string_split(text, ' '),
        |        t -> t IN ('the','a','and','of','in','to','is'))) AS DOUBLE)
        |        / len(string_split(text, ' ')) * 5.0, 0.5) AS quality,
        |  CASE WHEN least(1.0, len(string_split(text, ' ')) / 100.0) * 0.5
        |    + least(CAST(len(list_filter(string_split(text, ' '),
        |        t -> t IN ('the','a','and','of','in','to','is'))) AS DOUBLE)
        |        / len(string_split(text, ' ')) * 5.0, 0.5) >= 0.6 THEN 'high'
        |    WHEN least(1.0, len(string_split(text, ' ')) / 100.0) * 0.5
        |    + least(CAST(len(list_filter(string_split(text, ' '),
        |        t -> t IN ('the','a','and','of','in','to','is'))) AS DOUBLE)
        |        / len(string_split(text, ' ')) * 5.0, 0.5) >= 0.3 THEN 'medium'
        |    ELSE 'low' END AS bucket
        |FROM documents""".stripMargin) { (s, _) =>
      val words = split(col("text"), " ")
      val stop = Seq("the", "a", "and", "of", "in", "to", "is")
      val nWords = size(words)
      val stopRatio = size(filter(words, t => t.isInCollection(stop))).cast("double") / nWords
      val quality = least(lit(1.0), nWords / 100.0) * 0.5 + least(stopRatio * 5.0, lit(0.5))
      s.table("documents").select(col("doc_id"),
        nWords.as("n_words"),
        (length(regexp_replace(col("text"), " ", "")).cast("double") / nWords).as("avg_word_len"),
        quality.as("quality"),
        when(quality >= 0.6, "high").when(quality >= 0.3, "medium").otherwise("low").as("bucket"))
    },

    Q("llm_token_count",
      """SELECT doc_id,
        |  CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS ws_tokens,
        |  CAST(ceil(length(text) / 4.0) AS BIGINT) AS approx_bpe_tokens
        |FROM documents""".stripMargin) { (s, _) =>
      s.table("documents").select(col("doc_id"),
        size(split(col("text"), "\\s+")).cast("long").as("ws_tokens"),
        ceil(length(col("text")) / 4.0).cast("long").as("approx_bpe_tokens"))
    },

    // Top-5 words per language label — explode + grouped count + window
    // top-k (the per-group vocabulary profile step of corpus analysis).
    Q("llm_top_words_per_lang",
      """WITH wc AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents),
        |counts AS (
        |  SELECT lang, word, CAST(count(*) AS BIGINT) AS cnt FROM wc WHERE word <> '' GROUP BY 1, 2),
        |ranked AS (
        |  SELECT lang, word, cnt,
        |    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, word) AS rn
        |  FROM counts)
        |SELECT lang, word, cnt, CAST(rn AS BIGINT) AS rn FROM ranked WHERE rn <= 5""".stripMargin) { (s, _) =>
      import org.apache.spark.sql.expressions.Window
      val counts = s.table("documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("lang", "word").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("lang").orderBy(col("cnt").desc, col("word"))
      counts.select(col("lang"), col("word"), col("cnt"),
          row_number().over(w).cast("long").as("rn"))
        .filter(col("rn") <= 5)
    },

    // TF-IDF document scoring — the standard quality/relevance signal a
    // training pipeline computes corpus-wide. Two shuffles (tf by
    // (doc, term), df by term); the df side is vocabulary-sized, so at
    // corpus scale the score join broadcasts. The top term ranks on
    // (tf desc, df asc, term asc) — all-integer/lexicographic, so the
    // ranking is engine-independent; the float sum is rounded (6 dp)
    // because summation order differs across engines.
    Q("llm_tfidf",
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM toks WHERE term <> '' GROUP BY 1, 2),
        |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS nd FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    tf.tf * ln(CAST(nd AS DOUBLE) / df.df) AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tf DESC, df ASC, term ASC) AS rn FROM scored)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
        |  max(CASE WHEN rn = 1 THEN term END) AS top_term,
        |  max(CASE WHEN rn = 1 THEN tf END) AS top_tf,
        |  round(sum(score), 6) AS tfidf_sum
        |FROM ranked GROUP BY doc_id""".stripMargin) { (s, _) =>
      import org.apache.spark.sql.expressions.Window
      val toks = s.table("documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .filter(col("term") =!= "")
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val nd = s.table("documents").agg(countDistinct("doc_id").as("nd"))
      val scored = tf.join(df, "term").crossJoin(broadcast(nd))
        .withColumn("score", col("tf") * log(col("nd").cast("double") / col("df")))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("tf").desc, col("df").asc, col("term").asc)
      scored.withColumn("rn", row_number().over(w))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_terms"),
          max(when(col("rn") === 1, col("term"))).as("top_term"),
          max(when(col("rn") === 1, col("tf"))).as("top_tf"),
          round(sum(col("score")), 6).as("tfidf_sum"))
    },

    // Unigram-LM surprise (mean negative log-likelihood under the
    // corpus's own unigram distribution) — the perplexity-proxy quality
    // filter of C4/Gopher-style pipelines, exactly computable without a
    // model. One vocabulary aggregation + one (broadcastable,
    // vocabulary-sized) join back to the token stream.
    Q("llm_surprise",
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |t2 AS (SELECT doc_id, term FROM toks WHERE term <> ''),
        |vocab AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM t2 GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM t2)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  round(-sum(ln(CAST(cnt AS DOUBLE) / t)) / count(*), 6) AS surprise
        |FROM t2 JOIN vocab USING (term) CROSS JOIN tot
        |GROUP BY doc_id""".stripMargin) { (s, _) =>
      val toks = s.table("documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .filter(col("term") =!= "")
      val vocab = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
      val tot = toks.agg(count(lit(1)).as("t"))
      // no broadcast hint on vocab — it grows with corpus vocabulary;
      // stats/AQE pick broadcast while it fits and shuffle at 100 TB
      // (`tot` is one row, safe to pin)
      toks.join(vocab, "term").crossJoin(broadcast(tot))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          round(-sum(log(col("cnt").cast("double") / col("t"))) / count(lit(1)), 6)
            .as("surprise"))
    },

    // Interpolated bigram language model (Jelinek-Mercer smoothing, the
    // exactly-computable step up from llm_surprise's unigram LM — the
    // CCNet/KenLM perplexity filter's shape with a model small enough to
    // verify bit-level): P(w2|w1) = 0.7*c(w1 w2)/c(w1 ·) + 0.3*c(w2)/N,
    // counts from the corpus itself; per-doc score = mean -ln P over its
    // bigram positions. Engine plan: the bigram stream is a map-side
    // slice/zip (no window), then three gram-keyed hash aggs (bigram,
    // context, unigram — all partial-agg'd map-side) and joins back that
    // broadcast at scale (model tables are vocabulary-sized, not
    // corpus-sized); one doc-keyed reduce emits the score. Identical
    // expression shape both engines + round(6) absorbs libm ln ulps
    // (repo convention).
    Q("llm_bigram_lm",
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |pairs AS (SELECT doc_id, unnest([{'w1': w[i], 'w2': w[i+1]}
        |    for i in generate_series(1, len(w)-1)], recursive := true)
        |  FROM toks WHERE len(w) >= 2),
        |uni AS (SELECT word, count(*) AS cu
        |  FROM (SELECT unnest(w) AS word FROM toks) GROUP BY word),
        |n AS (SELECT CAST(sum(cu) AS DOUBLE) AS nt FROM uni),
        |ctx AS (SELECT w1, count(*) AS cc FROM pairs GROUP BY w1),
        |bi AS (SELECT w1, w2, count(*) AS cb FROM pairs GROUP BY w1, w2)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  round(avg(-ln(0.7 * (CAST(cb AS DOUBLE) / CAST(cc AS DOUBLE))
        |              + 0.3 * (CAST(cu AS DOUBLE) / nt))), 6) AS bigram_nll
        |FROM pairs
        |JOIN bi USING (w1, w2) JOIN ctx USING (w1)
        |JOIN uni ON pairs.w2 = uni.word, n
        |GROUP BY doc_id""".stripMargin) { (s, _) =>
      val w = split(col("text"), " ", -1)
      val pairs = s.table("documents")
        .select(col("doc_id"),
          explode(zip_with(slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
            (a, b) => struct(a.as("w1"), b.as("w2")))).as("pr"))
        .select(col("doc_id"), col("pr.w1").as("w1"), col("pr.w2").as("w2"))
      val toks = s.table("documents")
        .select(col("doc_id"), explode(w).as("word"))
      val uni = toks.groupBy("word").agg(count(lit(1)).as("cu"))
      val nt = uni.agg(sum("cu").cast("double").as("nt"))
      val ctx = pairs.groupBy(col("w1").as("cw1")).agg(count(lit(1)).as("cc"))
      val bi = pairs.groupBy(col("w1").as("bw1"), col("w2").as("bw2"))
        .agg(count(lit(1)).as("cb"))
      val p = lit(0.7) * (col("cb").cast("double") / col("cc").cast("double")) +
        lit(0.3) * (col("cu").cast("double") / col("nt"))
      pairs
        .join(bi, col("w1") === col("bw1") && col("w2") === col("bw2"))
        .join(ctx, col("w1") === col("cw1"))
        .join(uni, col("w2") === col("word"))
        .crossJoin(broadcast(nt))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_bigrams"),
          round(avg(-log(p)), 6).as("bigram_nll"))
    },

    // Interpolated Kneser-Ney trigram LM (Kneser & Ney 1995; Chen &
    // Goodman 1998's interpolated form — the actual CCNet/KenLM
    // perplexity-filter model family; Wenzek et al. 2020 score with a
    // 5-gram KenLM, and KenLM's estimator IS interpolated modified KN):
    //   P(w3|w1w2) = (c(w1w2w3)-D)/c(w1w2·)
    //              + (D·N1+(w1w2·)/c(w1w2·)) · Pkn(w3|w2)
    //   Pkn(w3|w2) = (N1+(·w2w3)-D)/N1+(·w2·)
    //              + (D·N1+(w2·)/N1+(·w2·)) · N1+(·w3)/N1+(··)
    // with one absolute discount D = 0.75 and all continuation counts
    // (the "novel-context" counts that make KN KN) read off the
    // DISTINCT trigram-type table. Every scored trigram is attested in
    // the corpus (c >= 1 > D), so the max(·,0) clamps are vacuous and
    // every probability is strictly positive — no OOV branch needed.
    // Exactness: counts are exact integers on both engines; the
    // probability expression is written in the identical shape/order
    // both sides and the per-doc mean NLL rounds at 6dp (the repo's
    // libm-boundary policy for ln). Scale shape: trigram assembly is
    // MAP-SIDE (transform over the token array) and runs EXACTLY ONCE —
    // positions collapse immediately to the per-(doc, trigram-type)
    // count frame `dtc`, which localCheckpoints so the token arrays are
    // never re-derived (without this, every AQE broadcast subtree
    // re-ran the whole assembly: 6x the kernel, 13 s -> ~2 s at sf0.1);
    // the model (contexts, continuation bigrams, middles, unigram
    // continuations) is FOUR linear aggs off the checkpointed distinct-
    // type table c3, the probability is scored per TYPE (types <<
    // positions), and docs join the scored types once, weighting by k.
    // Model joins carry NO broadcast hints (vocabulary grows with the
    // corpus — AQE/stats decide, as llm_bigram_lm); the only pinned
    // broadcast is the 1-row type total. No window, no pairwise stage.
    Q("llm_kn_trigram_lm",
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |tri AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2, w[i+2] AS w3
        |        FROM toks, unnest(generate_series(1, len(w) - 2)) t(i)
        |        WHERE len(w) >= 3),
        |dtc AS (SELECT doc_id, w1, w2, w3, CAST(count(*) AS DOUBLE) AS k
        |        FROM tri GROUP BY 1, 2, 3, 4),
        |c3 AS (SELECT w1, w2, w3, CAST(sum(k) AS DOUBLE) AS c FROM dtc GROUP BY 1, 2, 3),
        |ctx3 AS (SELECT w1, w2, CAST(sum(c) AS DOUBLE) AS ctot,
        |         CAST(count(*) AS DOUBLE) AS n1p FROM c3 GROUP BY 1, 2),
        |cont2 AS (SELECT w2, w3, CAST(count(*) AS DOUBLE) AS cc FROM c3 GROUP BY 1, 2),
        |mid AS (SELECT w2, CAST(sum(cc) AS DOUBLE) AS mtot,
        |        CAST(count(*) AS DOUBLE) AS nfol FROM cont2 GROUP BY 1),
        |u AS (SELECT w3, CAST(count(*) AS DOUBLE) AS uc FROM cont2 GROUP BY 1),
        |bt AS (SELECT CAST(count(*) AS DOUBLE) AS bt FROM cont2),
        |ts AS (SELECT w1, w2, w3,
        |         -ln((c - 0.75) / ctot
        |           + (0.75 * n1p / ctot) * ((cc - 0.75) / mtot
        |               + (0.75 * nfol / mtot) * (uc / bt))) AS nll
        |       FROM c3 JOIN ctx3 USING (w1, w2) JOIN cont2 USING (w2, w3)
        |       JOIN mid USING (w2) JOIN u ON c3.w3 = u.w3, bt)
        |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_trigrams,
        |  round(sum(k * nll) / sum(k), 6) AS kn_nll
        |FROM dtc JOIN ts USING (w1, w2, w3)
        |GROUP BY doc_id""".stripMargin) { (s, _) =>
      // doc-keyed exchange BEFORE the assembly kernel: the per-position
      // struct build is the dominant CPU and must not be serialized by
      // input split geometry (the sf fixtures are single parquet files
      // -> one task). The exchange is corpus-linear raw text — the same
      // cost class as the (doc, type, k) shuffle the dtc agg already
      // pays — and it makes kernel parallelism = cluster cores
      // regardless of how the scan was split.
      // r17: `w` is MATERIALIZED as a column before the explode:
      // higher-order functions are CodegenFallback, so a lambda body
      // that inlines the split(text) subtree re-evaluates the split per
      // element (O(len^2) tokenizer work per doc) — an attribute
      // reference indexes the array built once per row (isolated CPU
      // 7.0 -> 5.0 s at sf0.1). The exchange stays REPARTITION_BY_COL:
      // the FULL corpus flows through it, its bytes are proportional to
      // the assembly compute, so AQE's byte coalescing sizes it
      // correctly (an explicit 32-way count was measured at +5.7
      // CPU-s of per-task overhead for the same wall — contrast
      // kn_modified_lm's per-SPLIT exchanges below, where the 20% test
      // slice coalesces to 2 tasks and the explicit count wins).
      val tri = s.table("documents")
        .select(col("doc_id"), col("text"))
        .repartition(col("doc_id"))
        .select(col("doc_id"), split(col("text"), " ", -1).as("w"))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id"),
          explode(transform(sequence(lit(1), size(col("w")) - 2),
            i => struct(element_at(col("w"), i).as("w1"),
              element_at(col("w"), i + 1).as("w2"),
              element_at(col("w"), i + 2).as("w3")))).as("t"))
        .select(col("doc_id"), col("t.w1").as("w1"), col("t.w2").as("w2"),
          col("t.w3").as("w3"))
      val dtc = tri.groupBy("doc_id", "w1", "w2", "w3")
        .agg(count(lit(1)).cast("double").as("k"))
        .pinned() // token arrays never re-derived past here
      val c3 = dtc.groupBy("w1", "w2", "w3")
        .agg(sum("k").cast("double").as("c"))
        .pinned() // feeds 4 model aggs + the type scorer
      val ctx3 = c3.groupBy("w1", "w2")
        .agg(sum("c").cast("double").as("ctot"), count(lit(1)).cast("double").as("n1p"))
      val cont2 = c3.groupBy("w2", "w3")
        .agg(count(lit(1)).cast("double").as("cc"))
      val mid = cont2.groupBy("w2")
        .agg(sum("cc").cast("double").as("mtot"), count(lit(1)).cast("double").as("nfol"))
      val u = cont2.groupBy(col("w3").as("uw3"))
        .agg(count(lit(1)).cast("double").as("uc"))
      val bt = cont2.agg(count(lit(1)).cast("double").as("bt"))
      val p2 = (col("cc") - lit(0.75)) / col("mtot") +
        (lit(0.75) * col("nfol") / col("mtot")) * (col("uc") / col("bt"))
      val p3 = (col("c") - lit(0.75)) / col("ctot") +
        (lit(0.75) * col("n1p") / col("ctot")) * p2
      val ts = c3
        .join(ctx3, Seq("w1", "w2"))
        .join(cont2, Seq("w2", "w3"))
        .join(mid, Seq("w2"))
        .join(u, col("w3") === col("uw3"))
        .crossJoin(broadcast(bt))
        .select(col("w1"), col("w2"), col("w3"), (-log(p3)).as("nll"))
      dtc.join(ts, Seq("w1", "w2", "w3"))
        .groupBy("doc_id")
        .agg(sum("k").cast("long").as("n_trigrams"),
          round(sum(col("k") * col("nll")) / sum("k"), 6).as("kn_nll"))
    },

    // MODIFIED Kneser-Ney (Chen & Goodman 1998 §3; the estimator KenLM
    // actually ships — lmplz's closed-form per-count-level discounts),
    // scored on a HELD-OUT split (doc_id % 5 = 0), which is both where
    // C&G's gains exist (on training text any discounting only moves
    // mass off attested counts) and the real CCNet shape: score crawl
    // text with a wiki-trained LM. Differences from llm_kn_trigram_lm:
    //   - trigram discounts are per count level, closed-form from the
    //     count-of-counts: Y = n1/(n1+2n2), D1 = 1-2Y·n2/n1,
    //     D2 = 2-3Y·n3/n2, D3+ = 3-4Y·n4/n3 — two extra linear aggs off
    //     c3; the backoff weight becomes (D1·N1 + D2·N2 + D3+·N3+)/ctot
    //     with per-context level counts N1/N2/N3+.
    //   - KenLM's discount VALIDATION: lmplz requires each Di in
    //     [0, i] and positive count-of-counts, else it refuses the model
    //     unless --discount_fallback supplies defaults (0.5/1.0/1.5).
    //     This corpus genuinely trips that at some SFs (the synthetic
    //     count-of-counts invert: n3 > n1 at sf0.1 full-corpus), so the
    //     fallback rule is implemented, not assumed away.
    //   - full backoff chain for unseen events: an unseen trigram scores
    //     through the context weight alone (c=0, D(0)=0), an unseen
    //     context backs off to the continuation bigram, an unseen w3
    //     floors at 1/N1+(··) — every held-out probability is strictly
    //     positive with no OOV special-casing on either engine.
    //   - both MKN and single-D interpolated KN are scored on the same
    //     split so the C&G claim is checkable: spec pins corpus-weighted
    //     mkn_nll <= kn_nll.
    // Scale shape: assembly runs once per split (doc-keyed exchange, the
    // r14 lesson); the model is SIX linear aggs off the pinned c3;
    // scoring touches distinct test TYPES once (types << positions) and
    // docs join the scored types, weighting by k. Unhinted vocab-sized
    // joins (AQE decides); the only pinned broadcasts are the 1-row
    // total and the 1-row discount frame.
    Q("llm_kn_modified_lm",
      """WITH ttoks AS (SELECT string_split(text, ' ') AS w FROM documents WHERE doc_id % 5 <> 0),
        |tri AS (SELECT w[i] AS w1, w[i+1] AS w2, w[i+2] AS w3
        |        FROM ttoks, unnest(generate_series(1, len(w) - 2)) t(i) WHERE len(w) >= 3),
        |c3 AS (SELECT w1, w2, w3, CAST(count(*) AS DOUBLE) AS c FROM tri GROUP BY 1, 2, 3),
        |coc AS (SELECT CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
        |               CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS DOUBLE) AS n2,
        |               CAST(sum(CASE WHEN c = 3 THEN 1 ELSE 0 END) AS DOUBLE) AS n3,
        |               CAST(sum(CASE WHEN c = 4 THEN 1 ELSE 0 END) AS DOUBLE) AS n4 FROM c3),
        |dd AS (SELECT
        |  CASE WHEN ok = 1 THEN 1 - 2 * (n1 / nullif(n1 + 2 * n2, 0)) * n2 / nullif(n1, 0) ELSE 0.5 END AS d1,
        |  CASE WHEN ok = 1 THEN 2 - 3 * (n1 / nullif(n1 + 2 * n2, 0)) * n3 / nullif(n2, 0) ELSE 1.0 END AS d2,
        |  CASE WHEN ok = 1 THEN 3 - 4 * (n1 / nullif(n1 + 2 * n2, 0)) * n4 / nullif(n3, 0) ELSE 1.5 END AS d3
        |  FROM (SELECT n1, n2, n3, n4,
        |    CASE WHEN n1 > 0 AND n2 > 0 AND n3 > 0 AND n4 > 0
        |      AND 1 - 2 * (n1 / nullif(n1 + 2 * n2, 0)) * n2 / nullif(n1, 0) BETWEEN 0 AND 1
        |      AND 2 - 3 * (n1 / nullif(n1 + 2 * n2, 0)) * n3 / nullif(n2, 0) BETWEEN 0 AND 2
        |      AND 3 - 4 * (n1 / nullif(n1 + 2 * n2, 0)) * n4 / nullif(n3, 0) BETWEEN 0 AND 3
        |    THEN 1 ELSE 0 END AS ok FROM coc) v),
        |ctx3 AS (SELECT w1, w2, CAST(sum(c) AS DOUBLE) AS ctot, CAST(count(*) AS DOUBLE) AS n1p,
        |               CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS t1,
        |               CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS DOUBLE) AS t2,
        |               CAST(sum(CASE WHEN c >= 3 THEN 1 ELSE 0 END) AS DOUBLE) AS t3
        |        FROM c3 GROUP BY 1, 2),
        |cont2 AS (SELECT w2, w3, CAST(count(*) AS DOUBLE) AS cc FROM c3 GROUP BY 1, 2),
        |mid AS (SELECT w2, CAST(sum(cc) AS DOUBLE) AS mtot, CAST(count(*) AS DOUBLE) AS nfol
        |        FROM cont2 GROUP BY 1),
        |u AS (SELECT w3 AS uw3, CAST(count(*) AS DOUBLE) AS uc FROM cont2 GROUP BY 1),
        |bt AS (SELECT CAST(count(*) AS DOUBLE) AS bt FROM cont2),
        |stoks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id % 5 = 0),
        |stri AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2, w[i+2] AS w3
        |         FROM stoks, unnest(generate_series(1, len(w) - 2)) t(i) WHERE len(w) >= 3),
        |sdtc AS (SELECT doc_id, w1, w2, w3, CAST(count(*) AS DOUBLE) AS k
        |         FROM stri GROUP BY 1, 2, 3, 4),
        |st AS (SELECT DISTINCT w1, w2, w3 FROM sdtc),
        |joined AS (
        |  SELECT st.w1, st.w2, st.w3, c3.c, ctx3.ctot, ctx3.n1p, ctx3.t1, ctx3.t2, ctx3.t3,
        |         cont2.cc, mid.mtot, mid.nfol, u.uc, bt.bt, dd.d1, dd.d2, dd.d3
        |  FROM st
        |  LEFT JOIN c3 ON st.w1 = c3.w1 AND st.w2 = c3.w2 AND st.w3 = c3.w3
        |  LEFT JOIN ctx3 ON st.w1 = ctx3.w1 AND st.w2 = ctx3.w2
        |  LEFT JOIN cont2 ON st.w2 = cont2.w2 AND st.w3 = cont2.w3
        |  LEFT JOIN mid ON st.w2 = mid.w2
        |  LEFT JOIN u ON st.w3 = u.uw3
        |  CROSS JOIN bt CROSS JOIN dd),
        |sc AS (
        |  SELECT w1, w2, w3,
        |    -ln(CASE WHEN ctot IS NULL
        |        THEN (CASE WHEN mtot IS NULL THEN coalesce(uc, 1.0) / bt
        |              ELSE greatest(coalesce(cc, 0) - 0.75, 0) / mtot
        |                   + (0.75 * nfol / mtot) * (coalesce(uc, 1.0) / bt) END)
        |        ELSE greatest(coalesce(c, 0)
        |               - (CASE WHEN c IS NULL THEN 0 WHEN c = 1 THEN d1
        |                       WHEN c = 2 THEN d2 ELSE d3 END), 0) / ctot
        |             + ((d1 * t1 + d2 * t2 + d3 * t3) / ctot)
        |               * (CASE WHEN mtot IS NULL THEN coalesce(uc, 1.0) / bt
        |                  ELSE greatest(coalesce(cc, 0) - 0.75, 0) / mtot
        |                       + (0.75 * nfol / mtot) * (coalesce(uc, 1.0) / bt) END) END) AS mnll,
        |    -ln(CASE WHEN ctot IS NULL
        |        THEN (CASE WHEN mtot IS NULL THEN coalesce(uc, 1.0) / bt
        |              ELSE greatest(coalesce(cc, 0) - 0.75, 0) / mtot
        |                   + (0.75 * nfol / mtot) * (coalesce(uc, 1.0) / bt) END)
        |        ELSE greatest(coalesce(c, 0) - 0.75, 0) / ctot
        |             + (0.75 * n1p / ctot)
        |               * (CASE WHEN mtot IS NULL THEN coalesce(uc, 1.0) / bt
        |                  ELSE greatest(coalesce(cc, 0) - 0.75, 0) / mtot
        |                       + (0.75 * nfol / mtot) * (coalesce(uc, 1.0) / bt) END) END) AS knll
        |  FROM joined)
        |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_trigrams,
        |  round(sum(k * mnll) / sum(k), 6) AS mkn_nll,
        |  round(sum(k * knll) / sum(k), 6) AS kn_nll
        |FROM sdtc JOIN sc USING (w1, w2, w3)
        |GROUP BY doc_id""".stripMargin) { (s, _) =>
      // r17: same two fixes as llm_kn_trigram_lm's assembly — explicit
      // repartition count (the test split's BY_COL exchange was
      // AQE-coalesced to 2 tasks carrying 10.9 CPU-s of assembly), and
      // `w` materialized as a column so the CodegenFallback lambda
      // indexes the array instead of re-running split(text) per element.
      def assemble(docs: DataFrame, withDoc: Boolean): DataFrame = {
        val base = docs.select(col("doc_id"), col("text"))
          .repartition(docs.sparkSession.sparkContext.defaultParallelism, col("doc_id"))
          .select(col("doc_id"), split(col("text"), " ", -1).as("w"))
          .filter(size(col("w")) >= 3)
          .select(col("doc_id"),
            explode(transform(sequence(lit(1), size(col("w")) - 2),
              i => struct(element_at(col("w"), i).as("w1"),
                element_at(col("w"), i + 1).as("w2"),
                element_at(col("w"), i + 2).as("w3")))).as("t"))
        val cols = (if (withDoc) Seq(col("doc_id")) else Nil) ++
          Seq(col("t.w1").as("w1"), col("t.w2").as("w2"), col("t.w3").as("w3"))
        base.select(cols: _*)
      }
      val docs = s.table("documents")
      val c3 = assemble(docs.filter(col("doc_id") % 5 =!= 0), withDoc = false)
        .groupBy("w1", "w2", "w3")
        .agg(count(lit(1)).cast("double").as("c"))
        .pinned() // feeds SIX model aggs + the type scorer
      val coc = c3.agg(
        sum(when(col("c") === 1.0, 1L).otherwise(0L)).cast("double").as("n1"),
        sum(when(col("c") === 2.0, 1L).otherwise(0L)).cast("double").as("n2"),
        sum(when(col("c") === 3.0, 1L).otherwise(0L)).cast("double").as("n3"),
        sum(when(col("c") === 4.0, 1L).otherwise(0L)).cast("double").as("n4"))
      // nullif-guarded denominators: a degenerate count-of-counts (the
      // fallback trigger) must select the fallback, not raise Spark's
      // ANSI divide-by-zero (vectorized CASE evaluates both branches)
      def nz(x: org.apache.spark.sql.Column) = when(x === 0.0, lit(null)).otherwise(x)
      def y = col("n1") / nz(col("n1") + lit(2) * col("n2"))
      val d1r = lit(1) - lit(2) * y * col("n2") / nz(col("n1"))
      val d2r = lit(2) - lit(3) * y * col("n3") / nz(col("n2"))
      val d3r = lit(3) - lit(4) * y * col("n4") / nz(col("n3"))
      val ok = coalesce(col("n1") > 0 && col("n2") > 0 && col("n3") > 0 && col("n4") > 0 &&
        d1r.between(0, 1) && d2r.between(0, 2) && d3r.between(0, 3), lit(false))
      val dd = coc.select(
        when(ok, d1r).otherwise(lit(0.5)).as("d1"),
        when(ok, d2r).otherwise(lit(1.0)).as("d2"),
        when(ok, d3r).otherwise(lit(1.5)).as("d3"))
      val ctx3 = c3.groupBy(col("w1").as("xw1"), col("w2").as("xw2"))
        .agg(sum("c").cast("double").as("ctot"), count(lit(1)).cast("double").as("n1p"),
          sum(when(col("c") === 1.0, 1L).otherwise(0L)).cast("double").as("t1"),
          sum(when(col("c") === 2.0, 1L).otherwise(0L)).cast("double").as("t2"),
          sum(when(col("c") >= 3.0, 1L).otherwise(0L)).cast("double").as("t3"))
      val cont2 = c3.groupBy(col("w2").as("bw2"), col("w3").as("bw3"))
        .agg(count(lit(1)).cast("double").as("cc"))
      val mid = cont2.groupBy(col("bw2").as("mw2"))
        .agg(sum("cc").cast("double").as("mtot"), count(lit(1)).cast("double").as("nfol"))
      val u = cont2.groupBy(col("bw3").as("uw3"))
        .agg(count(lit(1)).cast("double").as("uc"))
      val bt = cont2.agg(count(lit(1)).cast("double").as("bt"))
      val sdtc = assemble(docs.filter(col("doc_id") % 5 === 0), withDoc = true)
        .groupBy("doc_id", "w1", "w2", "w3")
        .agg(count(lit(1)).cast("double").as("k"))
        .pinned() // token arrays never re-derived past here
      val st = sdtc.select("w1", "w2", "w3").distinct()
      val joined = st
        .join(c3, Seq("w1", "w2", "w3"), "left")
        .join(ctx3, col("w1") === col("xw1") && col("w2") === col("xw2"), "left")
        .join(cont2, col("w2") === col("bw2") && col("w3") === col("bw3"), "left")
        .join(mid, col("w2") === col("mw2"), "left")
        .join(u, col("w3") === col("uw3"), "left")
        .crossJoin(broadcast(bt))
        .crossJoin(broadcast(dd))
      val pu = coalesce(col("uc"), lit(1.0)) / col("bt")
      val p2 = when(col("mtot").isNull, pu)
        .otherwise(greatest(coalesce(col("cc"), lit(0.0)) - lit(0.75), lit(0.0)) / col("mtot") +
          (lit(0.75) * col("nfol") / col("mtot")) * pu)
      val dc = when(col("c").isNull, lit(0.0))
        .when(col("c") === 1.0, col("d1"))
        .when(col("c") === 2.0, col("d2"))
        .otherwise(col("d3"))
      val mknP = when(col("ctot").isNull, p2)
        .otherwise(greatest(coalesce(col("c"), lit(0.0)) - dc, lit(0.0)) / col("ctot") +
          ((col("d1") * col("t1") + col("d2") * col("t2") + col("d3") * col("t3")) / col("ctot")) * p2)
      val knP = when(col("ctot").isNull, p2)
        .otherwise(greatest(coalesce(col("c"), lit(0.0)) - lit(0.75), lit(0.0)) / col("ctot") +
          (lit(0.75) * col("n1p") / col("ctot")) * p2)
      val sc = joined.select(col("w1"), col("w2"), col("w3"),
        (-log(mknP)).as("mnll"), (-log(knP)).as("knll"))
      sdtc.join(sc, Seq("w1", "w2", "w3"))
        .groupBy("doc_id")
        .agg(sum("k").cast("long").as("n_trigrams"),
          round(sum(col("k") * col("mnll")) / sum("k"), 6).as("mkn_nll"),
          round(sum(col("k") * col("knll")) / sum("k"), 6).as("kn_nll"))
    },

    Q("llm_fingerprint",
      """SELECT doc_id,
        |  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |FROM documents""".stripMargin) { (s, _) =>
      s.table("documents").select(col("doc_id"),
        md5(lower(trim(regexp_replace(col("text"), "\\s+", " "))).cast("binary")).as("fp"))
    },

    // Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
    // MOSS algorithm): 5-char-gram polynomial hashes, window w=4, keep
    // the RIGHTMOST minimum per window. Guarantees any match >= w+k-1
    // chars shares a fingerprint, with density 2/(w+1) — the local
    // (partial-overlap) complement of the whole-doc md5 above. Map-side
    // only: the per-doc kernel emits the selected (pos, hash) set with
    // zero shuffle; at 100 TB the fingerprint->doc inverted index is one
    // groupBy away. The hash is plain base-31 polynomial arithmetic so
    // DuckDB replays it bit-for-bit (the window argmin packs (h, -pos)
    // into one BIGINT key). ASCII fixture => charAt == codepoint.
    Q("llm_fingerprint_winnow",
      """WITH t AS (SELECT doc_id, lower(text) AS s FROM documents),
        |g AS (
        |  SELECT doc_id, i,
        |    CAST((ord(substr(s, CAST(i AS INT), 1)) * 923521
        |     + ord(substr(s, CAST(i + 1 AS INT), 1)) * 29791
        |     + ord(substr(s, CAST(i + 2 AS INT), 1)) * 961
        |     + ord(substr(s, CAST(i + 3 AS INT), 1)) * 31
        |     + ord(substr(s, CAST(i + 4 AS INT), 1))) % 2147483647 AS BIGINT) AS h,
        |    len(s) - 4 AS n
        |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(s) - 4)) AS i) u),
        |w AS (
        |  SELECT doc_id, i - d AS wst, h * 2097152 + (2097151 - i) AS key, n
        |  FROM g CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS d)),
        |sel AS (
        |  SELECT doc_id, wst, min(key) AS mk FROM w
        |  WHERE wst >= 1 AND wst <= n - 3 GROUP BY doc_id, wst)
        |SELECT DISTINCT doc_id, CAST(2097151 - (mk % 2097152) AS BIGINT) AS pos,
        |  CAST(mk // 2097152 AS BIGINT) AS fp
        |FROM sel""".stripMargin) { (s, _) =>
      import s.implicits._
      s.table("documents")
        .select(col("doc_id").cast("long"), lower(col("text")).as("s"))
        .as[(Long, String)]
        .mapPartitions { it =>
          val K = 5; val W = 4; val M = 2147483647L
          it.flatMap { case (id, text) =>
            val n = text.length - (K - 1)
            if (n < W) Iterator.empty
            else {
              val h = new Array[Long](n)
              var i = 0
              while (i < n) {
                h(i) = (text.charAt(i) * 923521L + text.charAt(i + 1) * 29791L +
                  text.charAt(i + 2) * 961L + text.charAt(i + 3) * 31L +
                  text.charAt(i + 4)) % M
                i += 1
              }
              // rightmost-min per window; dedupe consecutive re-selections
              val out = scala.collection.mutable.LinkedHashSet.empty[(Long, Long)]
              var wst = 0
              while (wst <= n - W) {
                var best = wst
                var j = wst + 1
                while (j < wst + W) { if (h(j) <= h(best)) best = j; j += 1 }
                out += ((best + 1L, h(best))) // 1-based pos, oracle-aligned
                wst += 1
              }
              out.iterator.map { case (pos, fp) => (id, pos, fp) }
            }
          }
        }.toDF("doc_id", "pos", "fp")
    },

    // Sliding-window chunking — context-window packing: each document
    // splits into 50-token chunks at stride 40 (10-token overlap), the
    // shape a training pipeline feeds a tokenizer. Pure native
    // sequence/slice/explode — the expansion is map-side only, nothing
    // shuffles, and chunk boundaries are deterministic so the oracle
    // replays them exactly.
    Q("llm_chunk_documents",
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
        |s AS (SELECT doc_id, toks, unnest(range(0, greatest(len(toks), 1), 40)) AS st FROM t)
        |SELECT doc_id, CAST(st // 40 AS BIGINT) AS chunk_idx,
        |  array_to_string(list_slice(toks, st + 1, st + 50), ' ') AS chunk,
        |  CAST(least(50, len(toks) - st) AS BIGINT) AS n_tokens
        |FROM s WHERE st < len(toks)""".stripMargin) { (s, _) =>
      val toks = split(col("text"), "\\s+")
      s.table("documents").select(col("doc_id"), toks.as("toks"))
        .withColumn("st",
          explode(sequence(lit(0), greatest(size(col("toks")) - 1, lit(0)), lit(40))))
        .filter(col("st") < size(col("toks")))
        .select(col("doc_id"),
          (col("st") / lit(40)).cast("long").as("chunk_idx"),
          array_join(slice(col("toks"), col("st") + 1, lit(50)), " ").as("chunk"),
          least(lit(50), size(col("toks")) - col("st")).cast("long").as("n_tokens"))
    },

    // Stratified sampling — the data-mixing primitive of corpus
    // construction (downsample dominant languages, upweight rare ones).
    // sampleBy(lang, fractions, seed): per-stratum Bernoulli, one scan,
    // no shuffle. Contract: (a) deterministic — two runs with the same
    // seed produce identical samples; (b) each stratum's realized rate
    // is within 4 absolute standard errors of its requested fraction;
    // (c) the sample is a true subset (anti-join empty).
    Q("llm_stratified_sample",
      """SELECT true AS deterministic, true AS fractions_ok, true AS subset_ok""".stripMargin) { (s, _) =>
      import s.implicits._
      val docs = s.table("documents").select("doc_id", "lang")
      val fractions = Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.25)
        .withDefaultValue(0.1)
      val langs = docs.select("lang").distinct().collect().map(_.getString(0))
      val fr = langs.map(l => l -> fractions(l)).toMap
      def draw() = docs.stat.sampleBy("lang", fr, seed = 42L)
      val a = draw().cache()
      val b = draw()
      val deterministic = a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
      val perStratum = docs.groupBy("lang").agg(count(lit(1)).as("n"))
        .join(a.groupBy("lang").agg(count(lit(1)).as("k")), Seq("lang"), "left")
        .na.fill(0, Seq("k")).collect()
      val fractionsOk = perStratum.forall { r =>
        val (n, k, f) = (r.getLong(1).toDouble, r.getLong(2).toDouble, fr(r.getString(0)))
        math.abs(k / n - f) <= 4.0 * math.sqrt(f * (1 - f) / n) + 1e-9
      }
      val subsetOk = a.join(docs, Seq("doc_id", "lang"), "left_anti").isEmpty
      a.unpersist()
      Seq((deterministic, fractionsOk, subsetOk))
        .toDF("deterministic", "fractions_ok", "subset_ok")
    }.withBench { (s, _) =>
      val docs = s.table("documents").select("doc_id", "lang")
      val langs = docs.select("lang").distinct().collect().map(_.getString(0))
      val fr = langs.map(l => l -> 0.25).toMap
      docs.stat.sampleBy("lang", fr, seed = 42L)
    })
}
