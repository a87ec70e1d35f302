package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.llm.CurationQueries

/** Semantics pins for the corpus-curation operators (llm/CurationQueries):
  * Gopher rule battery, DSIR importance resampling, distributed k-means,
  * SemDeDup. The driver's DuckDB oracle already checks row-level equality;
  * these specs pin the PROPERTIES that make each operator meaningful —
  * rules fire on the documents constructed to trip them, DSIR separates
  * the target domain, k-means is partition-count invariant, SemDeDup
  * pairs really exceed the threshold — so a future refactor cannot
  * silently keep the row shape while losing the semantics.
  */
class CurationSpecs extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.01"
  private var spark: SparkSession = _

  private def q(name: String): DataFrame =
    CurationQueries.queries.find(_.name == name).get.run(spark, sfDir)

  override def beforeAll(): Unit = {
    spark = graft.engine.Engine.session("local[4]", shufflePartitions = 4)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("gopher battery: every rule fires on some docs and passes others; keep = AND of rules") {
    val df = q("llm_quality_gopher").cache()
    val n = df.count()
    val ruleCols = Seq("pass_word_count", "pass_symbol", "pass_bullet",
      "pass_ellipsis", "pass_alpha", "pass_stopwords")
    for (c <- ruleCols) {
      val passed = df.filter(col(c)).count()
      assert(passed > 0 && passed < n, s"$c should have mixed outcomes, got $passed/$n")
    }
    // keep is exactly the conjunction of the seven published flags
    val bad = df.filter(col("keep") =!= (col("pass_word_count") && col("pass_word_len") &&
      col("pass_symbol") && col("pass_bullet") && col("pass_ellipsis") &&
      col("pass_alpha") && col("pass_stopwords"))).count()
    assert(bad === 0)
    // the constructions trip their intended rule: a doc_id divisible by 7
    // but not 11 has 10 of 11 lines bulleted (> 0.9) -> fails pass_bullet
    val bulletOnly = df.filter(col("doc_id") % 7 === 0 && col("doc_id") % 11 =!= 0)
    assert(bulletOnly.count() > 0 && bulletOnly.filter(col("pass_bullet")).count() === 0)
    // a doc_id divisible by 11 but not 7 has 2 of 3 lines ellipsis-ended
    val ellOnly = df.filter(col("doc_id") % 11 === 0 && col("doc_id") % 7 =!= 0)
    assert(ellOnly.count() > 0 && ellOnly.filter(col("pass_ellipsis")).count() === 0)
    df.unpersist()
  }

  test("dsir: target-domain (en) docs score strictly higher on average; selection is nonempty and proper") {
    val docs = spark.table("documents").select(col("doc_id").cast("long").as("doc_id"), col("lang"))
    val joined = q("llm_importance_resample").join(docs, "doc_id").cache()
    val Array(enAvg, otherAvg) = joined
      .groupBy((col("lang") === "en").as("isEn"))
      .agg(avg("dsir_weight").as("w")).orderBy(col("isEn").desc)
      .collect().map(_.getDouble(1))
    assert(enAvg > otherAvg + 0.05,
      s"DSIR must separate the target domain: en=$enAvg other=$otherAvg")
    val sel = joined.filter(col("selected")).count()
    assert(sel > 0 && sel < joined.count())
    // selected docs skew heavily to the target domain
    val enShareSel = joined.filter(col("selected") && col("lang") === "en").count().toDouble / sel
    assert(enShareSel > 0.8, s"selected set should be mostly en, got $enShareSel")
    joined.unpersist()
  }

  test("k-means: total assignment, <=8 clusters, and partition-count invariance") {
    val a4 = q("llm_kmeans_cluster").cache()
    val n = spark.table("embeddings").count()
    assert(a4.count() === n) // every vector assigned exactly once
    assert(a4.select("vec_id").distinct().count() === n)
    val clusters = a4.select("cluster").distinct().collect().map(_.getLong(0)).sorted
    assert(clusters.length <= 8 && clusters.forall(c => c >= 0 && c < 8))
    // partition-count invariance: the distributed mean + broadcast
    // assignment must not depend on the physical split of the scan
    val spark2 = spark.newSession()
    spark2.conf.set("spark.sql.shuffle.partitions", "13")
    val b = CurationQueries.queries.find(_.name == "llm_kmeans_cluster").get.run(spark2, sfDir)
    val diff = a4.except(b).count() + b.except(a4).count()
    assert(diff === 0, s"assignment changed under a different partition count: $diff rows differ")
    a4.unpersist()
  }

  test("html extraction is lossless for every document and strips real boilerplate") {
    val df = q("llm_html_extract").cache()
    assert(df.filter(!col("lossless")).count() === 0) // extracted == original text, always
    // boilerplate genuinely removed: every doc sheds >25% of its html bytes
    assert(df.filter(col("boilerplate_frac") <= 0.25).count() === 0)
    df.unpersist()
  }

  test("semdedup: pairs are lower-id and over threshold; the whole chain is parallelism-independent") {
    val d = q("llm_cluster_semdedup").cache()
    try {
      val e = spark.table("embeddings").select(
        col("vec_id").cast("long").as("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("e"))
      val pairs = d.join(e.select(col("vec_id"), col("e").as("ea")), "vec_id")
        .join(e.select(col("vec_id").as("dup_of"), col("e").as("eb")), "dup_of")
      assert(pairs.count() > 0)
      assert(pairs.filter(col("dup_of") >= col("vec_id")).count() === 0) // keeper has lower id
      val cs = (aggregate(zip_with(col("ea"), col("eb"), (x, y) => x * y), lit(0.0d), (a, x) => a + x) /
        (sqrt(aggregate(col("ea"), lit(0.0d), (a, x) => a + x * x)) *
          sqrt(aggregate(col("eb"), lit(0.0d), (a, x) => a + x * x))))
      assert(pairs.filter(cs < 0.35).count() === 0) // threshold truly met
      // k-means seeds, quantized Lloyd rounds, cell-scoped pairwise:
      // every step must be deterministic at any shuffle parallelism
      val before = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        val again = q("llm_cluster_semdedup")
        assert(again.exceptAll(d).isEmpty && d.exceptAll(again).isEmpty)
      } finally spark.conf.set("spark.sql.shuffle.partitions", before)
    } finally d.unpersist()
  }

  test("random projection: zero exchanges, balanced signs, JL distance preservation") {
    val df = q("llm_random_projection")
    // Map-side only: the whole projection must plan without a shuffle.
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"projection must be shuffle-free:\n$plan")

    // The pseudorandom sign matrix is balanced and near-orthogonal.
    def sign(i: Int, j: Int): Int = {
      val k = i.toLong * 16 + j
      ((k * k * 48271L % 65521L) % 2).toInt * 2 - 1
    }
    for (j <- 0 until 16) {
      val pos = (0 until 64).count(i => sign(i, j) > 0)
      assert(pos >= 20 && pos <= 44, s"col $j degenerate: $pos/64 positive")
    }
    val colsAsVectors = (0 until 16).map(j => (0 until 64).map(i => sign(i, j)))
    assert(colsAsVectors.distinct.size === 16, "sign columns must differ")
    for (Seq(a, b) <- colsAsVectors.combinations(2)) {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      assert(math.abs(dot) <= 32, s"columns too correlated: |dot| = ${math.abs(dot)}")
    }

    // JL property on real data: squared distances preserved in the
    // aggregate (K=16 is small, so bound loosely per pair, tightly on
    // the mean ratio).
    val proj = df.collect().map(r =>
      r.getLong(0) -> (1 to 16).map(r.getDouble).toArray).toMap
    val orig = spark.table("embeddings").select(col("vec_id").cast("long"),
      transform(col("embedding"), x => x.cast("double"))).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val ids = orig.keys.toArray.sorted.take(60)
    val ratios = for {
      a <- ids.indices; b <- (a + 1) until ids.length
      da = orig(ids(a)).zip(orig(ids(b))).map { case (x, y) => (x - y) * (x - y) }.sum
      if da > 1e-9
      dp = proj(ids(a)).zip(proj(ids(b))).map { case (x, y) => (x - y) * (x - y) }.sum
    } yield dp / da
    assert(ratios.nonEmpty)
    assert(ratios.forall(r => r > 0.05 && r < 5.0), "per-pair distortion out of bounds")
    val mean = ratios.sum / ratios.size
    assert(mean > 0.7 && mean < 1.3, s"mean distance ratio $mean")
  }

  test("ccnet buckets: terciles are balanced, ordered, and paragraph-sized") {
    val rows = q("llm_ccnet_buckets").collect()
      .map(r => (r.getAs[Long]("n_tokens"), r.getAs[Double]("surprise"), r.getAs[String]("bucket")))
    val n = rows.length
    assert(n > 100)
    assert(rows.forall(_._1 <= 15)) // paragraphs are <=15 words
    val byBucket = rows.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
    assert(byBucket.keySet === Set("head", "middle", "tail"))
    // balanced within tie slack
    for (b <- byBucket.keys)
      assert(math.abs(byBucket(b).size - n / 3.0) < n / 10.0, s"$b: ${byBucket(b).size} of $n")
    // ordered: head (lowest surprise = most fluent) < middle < tail
    assert(byBucket("head").max <= byBucket("middle").min)
    assert(byBucket("middle").max <= byBucket("tail").min)
  }

  test("pagerank: equals a sequential integer replay, conserves rank mass, partition-invariant") {
    val got = q("llm_pagerank").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    // Sequential replay of the EXACT fixed-point arithmetic.
    val n = spark.table("documents").count()
    var r = Array.fill(n.toInt)(1000000000000L / n)
    val base = 150000000000L / n
    for (_ <- 1 to 5) {
      val in = Array.fill(n.toInt)(0L)
      for (d <- 0 until n.toInt; off <- Seq(8L, 15L, 22L))
        in(((d * 31 + off) % n).toInt) += r(d) / 3
      r = Array.tabulate(n.toInt)(d => base + 85 * in(d) / 100)
    }
    assert(got.size === n.toInt)
    for (d <- 0 until n.toInt) assert(got(d.toLong) === r(d), s"doc $d")

    // Fixed-point mass conservation: floor losses are bounded by ~4N/round.
    val total = got.values.sum
    assert(total <= 1000000000000L && total >= 1000000000000L - 25 * n)

    // Bit-reproducible at any parallelism: rerun under a different
    // shuffle-partition count and require IDENTICAL integers.
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val again = q("llm_pagerank").collect().map(r0 => r0.getLong(0) -> r0.getLong(1)).toMap
      assert(again === got)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("triangle count: per-node sums are a 3-cover, counts vary, partition-invariant") {
    val a = q("llm_triangle_count").cache()
    try {
      val n = spark.table("documents").count()
      assert(a.count() == n, "every node must have a row")
      val total = a.agg(sum("n_triangles")).head().getLong(0)
      assert(total > 0 && total % 3 == 0,
        s"per-node counts must 3-cover whole triangles, got $total")
      assert(a.select("n_triangles").distinct().count() > 1,
        "fixture must have varying triangle density")
      // bit-identical at a different parallelism (all-integer pipeline)
      val before = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        val b = q("llm_triangle_count")
        assert(b.exceptAll(a).isEmpty && a.exceptAll(b).isEmpty)
      } finally spark.conf.set("spark.sql.shuffle.partitions", before)
    } finally a.unpersist()
  }

  test("label propagation: genuine coarsening, deterministic at any parallelism") {
    val a = q("llm_label_propagation").cache()
    try {
      val n = spark.table("documents").count()
      val k = a.select("community").distinct().count()
      assert(k > 1 && k < n, s"expected 1 < communities < $n, got $k")
      // labels come from the node-id space
      val ids = spark.table("documents").select(col("doc_id").as("id"))
      assert(a.join(ids, a("community") === ids("id"), "left_anti").count() == 0)
      val before = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        val b = q("llm_label_propagation")
        assert(b.exceptAll(a).isEmpty && a.exceptAll(b).isEmpty)
      } finally spark.conf.set("spark.sql.shuffle.partitions", before)
    } finally a.unpersist()
  }

  test("containment dedup: every snippet is fully contained; non-source winners are exact ties") {
    val a = q("llm_dedup_containment").cache()
    try {
      assert(a.count() > 0)
      // by construction every snippet's shingles are a subset of its
      // source document's — best containment must be exactly 1.0
      assert(a.filter(col("best_containment") =!= 1.0).count() == 0)
      // most snippets rediscover their designated source...
      val n = a.count().toDouble
      assert(a.filter(col("is_source")).count() / n > 0.8)
      // ...and the only legitimate non-source winner is a full-text
      // duplicate of the source tying at 1.0 (the corpus has exact
      // copies — llm_dedup_exact), in which case a second candidate at
      // containment 1.0 must exist
      val losers = a.filter(!col("is_source"))
      assert(losers.filter(col("second_containment") =!= 1.0).count() == 0,
        "a non-source best match must be an exact containment tie")
      assert(losers.filter(col("n_candidates") < 2).count() == 0)
    } finally a.unpersist()
  }

  test("c4 clean: every rule fires, poisoned pages drop, the intro span survives exactly once") {
    val df = q("llm_c4_clean").cache()
    try {
      // page poison: lorem-ipsum and curly-brace pages are never kept
      assert(df.filter(col("doc_id") % 17 === 0 && col("page_kept")).count() == 0)
      assert(df.filter(col("doc_id") % 19 === 0 && col("page_kept")).count() == 0)
      // mixed outcomes on both page and line rules
      assert(df.filter(col("page_kept")).count() > 0)
      assert(df.filter(!col("page_kept")).count() > 0)
      assert(df.filter(col("n_kept") < col("n_lines")).count() > 0,
        "line filters never fired")
      // filtered line classes never reach the cleaned text
      for (bad <- Seq("click here to subscribe now", "javascript", "ok thanks."))
        assert(df.filter(col("clean_text").contains(bad)).count() == 0, s"'$bad' survived")
      // dedup only ever shrinks
      assert(df.filter(col("n_final") > col("n_kept")).count() == 0)
      // C4's span dedup: the injected three-sentence intro survives in
      // EXACTLY one document — the corpus-first kept %5 page — and every
      // other kept %5 page lost (at least) those three sentences.
      val intro = "the data pipeline runs every day. " +
        "quality filters remove noisy content. " +
        "deduplication keeps one copy of each span."
      val withIntro = df.filter(col("clean_text").contains(intro)).collect()
      assert(withIntro.length == 1, s"intro span kept ${withIntro.length} times")
      val firstKept5 = df.filter(col("doc_id") % 5 === 0 && col("page_kept"))
        .agg(min("doc_id")).head().getLong(0)
      assert(withIntro.head.getLong(0) == firstKept5,
        "intro must survive at its corpus-first occurrence")
      val losers = df.filter(col("doc_id") % 5 === 0 && col("page_kept") &&
        col("doc_id") =!= firstKept5)
      assert(losers.count() > 0, "need at least one non-first duplicated page")
      assert(losers.filter(col("n_final") > col("n_kept") - 3).count() == 0,
        "every non-first %5 page must lose its three intro sentences")
    } finally df.unpersist()
  }

  test("blocklist: Aho-Corasick counts every start position, incl. overlaps and nested patterns") {
    val s = spark
    import s.implicits._
    val pats = Seq("scan slow", "slow filter", "table", "table table")
    val patLit = array(pats.map(lit): _*)
    val fixture = Seq(
      // "table table table": "table" at 3 starts, "table table" at 2
      // (overlapping) — the nested-pattern output chain
      (1L, "table table table", Seq(0L, 0L, 3L, 2L)),
      // "scan slow filter": two patterns overlap on the shared "slow"
      (2L, "scan slow filter", Seq(1L, 1L, 0L, 0L)),
      (3L, "no hits here", Seq(0L, 0L, 0L, 0L)),
      (4L, "", Seq(0L, 0L, 0L, 0L))
    ).toDF("id", "text", "want")
    val got = fixture.select(col("id"), col("want"),
      call_udf("blocklist_counts", col("text"), patLit).as("got"))
    got.collect().foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"counts wrong for id=${r.getLong(0)}: ${r.getSeq[Long](2)} vs ${r.getSeq[Long](1)}")
    }
    // brute-force parity on real corpus text: every start position
    val doc = q("llm_quality_gopher").sparkSession.table("documents")
      .select("text").limit(5).collect().map(_.getString(0))
    val ac = new graft.functions.AhoCorasick(pats.toArray)
    doc.foreach { t =>
      val brute = pats.map(p => (0 to t.length - p.length)
        .count(i => t.regionMatches(i, p, 0, p.length)).toLong)
      assert(ac.countAll(t).toSeq == brute, "automaton diverges from brute-force scan")
    }
  }

  test("blocklist filter: map-only plan (zero exchanges) inside whole-stage codegen") {
    val df = q("llm_blocklist_filter")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"blocklist scan must not shuffle:\n$plan")
    // the automaton Project must carry the `*(n)` whole-stage-codegen
    // marker (the count HOFs above it are CodegenFallback by design —
    // they fold a 12-element array per row, not the text scan)
    assert(plan.linesIterator.exists(l => l.contains("blocklist_counts") && l.contains("*(")),
      s"blocklist scan fell out of codegen:\n$plan")
    val rows = df.cache()
    try {
      assert(rows.filter(col("n_matches") > 0).count() > 0)
      // "zz top" never matches, so no doc can hit all patterns
      val npats = rows.agg(max("n_patterns")).head().getLong(0)
      assert(npats < 12, "the never-matching pattern must cap n_patterns")
      assert(rows.filter(col("flagged")).count() > 0)
      assert(rows.filter(!col("flagged")).count() > 0)
    } finally rows.unpersist()
  }

  test("char entropy: closed-form values on planted strings; map-only corpus plan") {
    val s = spark
    import s.implicits._
    val fx = Seq("aaaa", "abcd", "aabbbc").toDF("text")
      .select(round(call_udf("char_stats", col("text")).getField("entropy"), 6).as("e"),
        call_udf("char_stats", col("text")).getField("distinct_chars").as("d"))
      .collect()
    assert(fx(0).getDouble(0) == 0.0 && fx(0).getInt(1) == 1)
    assert(fx(1).getDouble(0) == math.floor(math.log(4.0) * 1e6 + 0.5) / 1e6
      && fx(1).getInt(1) == 4)
    // -[(2/6)ln(2/6) + (3/6)ln(3/6) + (1/6)ln(1/6)] = 1.011404...
    assert(fx(2).getDouble(0) == 1.011404 && fx(2).getInt(1) == 3)
    val plan = q("llm_char_entropy").queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"char_stats scan must not shuffle:\n$plan")
  }

  test("quality classifier: genuinely learns the rule labels; partition-count invariant") {
    val df = q("llm_quality_classifier").cache()
    try {
      val n = df.count()
      val pos = df.filter(col("label") === 1).count()
      val majority = math.max(pos, n - pos).toDouble / n
      val tp = df.filter(col("selected") && col("label") === 1).count()
      val sel = df.filter(col("selected")).count()
      val correct = tp + df.filter(!col("selected") && col("label") === 0).count()
      // the classifier must beat always-predict-majority, with real
      // recall/precision — not just match the label base rate
      assert(correct.toDouble / n > majority,
        s"accuracy ${correct.toDouble / n} does not beat majority $majority")
      assert(tp.toDouble / pos >= 0.6, s"recall ${tp.toDouble / pos} too low")
      assert(tp.toDouble / sel >= 0.45, s"precision ${tp.toDouble / sel} too low")
      assert(sel > 0 && sel < n, "selection must be a proper subset")
      // training runs on the deterministic hash-mod 64/250 sample (the
      // SemDeDup convention) — the quality bars above are the SAME ones
      // the full-batch model cleared, so sampled training provably
      // doesn't degrade the filter on this fixture. 6dp weight
      // quantization per round keeps the oracle replay exact, and the
      // physical split of the scan must not change a single score
      val spark2 = spark.newSession()
      spark2.conf.set("spark.sql.shuffle.partitions", "13")
      val b = CurationQueries.queries.find(_.name == "llm_quality_classifier")
        .get.run(spark2, sfDir)
      assert(df.except(b).count() + b.except(df).count() === 0,
        "scores changed under a different partition count")
    } finally df.unpersist()
  }

  test("ngram novelty: exact duplicates score 0, unique docs score 1, short docs excluded") {
    val df = q("llm_ngram_novelty").cache()
    try {
      val n = df.count()
      assert(n > 0)
      // well-formed: 0 <= n_novel <= n_shingles, novelty consistent
      assert(df.filter(col("n_novel") > col("n_shingles")).count() == 0)
      assert(df.filter(col("novelty") < 0 || col("novelty") > 1).count() == 0)
      assert(df.filter(
        col("novelty") =!= round(col("n_novel").cast("double") / col("n_shingles"), 6))
        .count() == 0)
      // docs shorter than 5 tokens never appear
      val short = spark.table("documents")
        .filter(size(split(col("text"), " ")) < 5).select("doc_id")
      assert(df.join(short, "doc_id").count() == 0)
      // mixed outcomes on the real corpus: some shared, some novel grams
      assert(df.filter(col("n_novel") > 0).count() > 0, "no novel grams at all")
      assert(df.filter(col("n_novel") < col("n_shingles")).count() > 0,
        "no shared grams at all")
    } finally df.unpersist()
  }

  test("pca power iteration: recovers a planted dominant axis; partition-count invariant") {
    // Planted anisotropy: 100 vectors with +-3.0 on dim 0 and +-0.1 on
    // one rotating minor dim; the top principal direction is e_0. A
    // probe vector = exactly e_0 is planted as vec_id 999 — its
    // projection onto the learned component is v3[0], which must be
    // close to +-1 after three rounds.
    val s = spark.newSession()
    graft.engine.Engine.registerTables(s, sfDir)
    import s.implicits._
    val rows = (0 until 100).map { i =>
      val e = Array.fill(64)(0.0f)
      e(0) = if (i % 2 == 0) 3.0f else -3.0f
      e(i % 63 + 1) = if (i % 3 == 0) 0.1f else -0.1f
      (i.toLong, e.toSeq, 0)
    } :+ {
      val probe = Array.fill(64)(0.0f); probe(0) = 1.0f
      (999L, probe.toSeq, 0)
    }
    rows.toDF("vec_id", "embedding", "label").createOrReplaceTempView("embeddings")
    val out = SparkEntry.queries("llm_pca_power")(s, sfDir)
    val projs = out.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(projs.size == 101)
    assert(math.abs(projs(999L)) > 0.99,
      s"component should align with planted axis, probe proj = ${projs(999L)}")
    // planted vectors project near +-3 with the sign of their dim-0 value
    val sgn = math.signum(projs(999L))
    for (i <- 0 until 100) {
      val expectSign = if (i % 2 == 0) sgn else -sgn
      assert(math.signum(projs(i.toLong)) == expectSign && math.abs(projs(i.toLong)) > 2.9,
        s"vec $i proj ${projs(i.toLong)} inconsistent with planted axis")
    }
    // bit-identical under a different shuffle-partition count (the 6dp
    // per-round quantization is what makes this hold)
    val before = s.conf.get("spark.sql.shuffle.partitions")
    try {
      s.conf.set("spark.sql.shuffle.partitions", "7")
      val again = SparkEntry.queries("llm_pca_power")(s, sfDir)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(again == projs, "projections changed under a different partition count")
    } finally s.conf.set("spark.sql.shuffle.partitions", before)
  }
}
