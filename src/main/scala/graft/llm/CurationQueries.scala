package graft.llm

import graft.engine.Engine.PinOps

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.{Q, QueryModule}

/** Corpus-curation operators: the data-selection half of an LLM training
  * pipeline (the dedup half lives in LlmQueries / PipelineQueries).
  *
  *  - Gopher quality-rule battery (Rae et al. 2021, appendix A1.1): the
  *    full per-document rule set — word count, mean word length, symbol
  *    ratio, bullet/ellipsis line fractions, alpha-word ratio, stop-word
  *    presence — as one codegen'd scan, no shuffle.
  *  - DSIR importance resampling (Xie et al. 2023): hashed-n-gram
  *    log-likelihood-ratio weights target-vs-raw; two hash aggregations
  *    keyed on the gram hash plus one doc-keyed reduce.
  *  - Distributed k-means (Lloyd) over the embedding column: broadcast
  *    centroids, map-side assignment, `vec_mean` flat-buffer cell means —
  *    per round one broadcast join + one exchange carrying k buffer rows
  *    per partition, never dims-exploded rows.
  *  - SemDeDup (Abbas et al. 2023): cluster-scoped near-duplicate
  *    removal — pairwise cosine only WITHIN a cluster, so the quadratic
  *    term is bounded by cluster occupancy, not corpus size.
  *
  * Determinism across engines: centroids are quantized to 6 decimals
  * with an explicit half-up formula (`floor(x*1e6+0.5)/1e6`) after every
  * Lloyd round, so Spark and DuckDB iterate on identical centroid bits
  * and every distance comparison is engine-independent; cosine sums run
  * in array order in both engines (bit-identical IEEE sequences).
  */
object CurationQueries extends QueryModule {

  /** Quantize a double array to 6 decimals, explicit half-up — the same
    * arithmetic (`floor(x*1e6+0.5)/1e6`) is inlined in the DuckDB
    * oracle, so both engines see identical centroid bits.
    */
  private def quant(c: Column): Column =
    transform(c, x => floor(x * lit(1000000.0d) + lit(0.5d)) / lit(1000000.0d))

  /** Squared Euclidean distance over two array<double> columns,
    * accumulated in array order (matches DuckDB `list_sum` order).
    */
  private def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0d), (acc, x) => acc + x)

  /** embeddings as (vec_id BIGINT, label, e array<double>). */
  private def vecs(s: SparkSession): DataFrame =
    s.table("embeddings").select(
      col("vec_id").cast("long").as("vec_id"), col("label"),
      transform(col("embedding"), x => x.cast("double")).as("e"))

  /** (doc_id, 1-based window position, 64-bit hash of the 13-gram at
    * that position) — the positional variant of PipelineQueries'
    * ngramHashRows (positions kept because span accounting needs them).
    */
  private def posGramRows(s: SparkSession, n: Int): DataFrame = {
    import s.implicits._
    s.table("documents")
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val w = text.split(" ", -1)
          if (w.length < n) Iterator.empty
          else (0 to w.length - n).iterator.map { i =>
            val sb = new java.lang.StringBuilder(w(i))
            var j = i + 1
            while (j < i + n) { sb.append('_').append(w(j)); j += 1 }
            val h = graft.functions.Hll.hashAny(
              org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString))
            (id, i + 1L, h)
          }
        }
      }.toDF("doc_id", "pos", "gh")
  }

  /** llm_ccnet_buckets' paragraph-scoring plan (exposed for PlanDump:
    * the pre-checkpoint evidence that scoring — and the bisect's
    * conditional-count probe over it — holds no single-partition
    * exchange; the returned query plan itself is a checkpoint scan).
    */
  private[graft] def ccnetScored(s: SparkSession): DataFrame = {
    val w = split(col("text"), " ", -1)
    val nP = ceil(size(w) / lit(15.0)).cast("int")
    val paras = s.table("documents").select(col("doc_id"),
      posexplode(transform(sequence(lit(1), nP),
        i => slice(w, (i - lit(1)) * 15 + 1, lit(15)))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pidx"), col("col").as("ws"))
    val toks = paras.select(col("doc_id"), col("pidx"), explode(col("ws")).as("term"))
      .filter(col("term") =!= "")
    val vocab = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
    val tot = toks.agg(count(lit(1)).as("t"))
    // vocab is NOT broadcast-hinted: a crawl's unigram vocabulary (URLs,
    // typos, code tokens) grows with the corpus, and a forced hint would
    // OOM the driver at 100 TB where stats/AQE correctly fall back to a
    // shuffle join (the repo's TPC-H hint policy). `tot` is one row —
    // always safe to pin.
    toks.join(vocab, "term").crossJoin(broadcast(tot))
      .groupBy("doc_id", "pidx")
      .agg(count(lit(1)).as("n_tokens"),
        round(-sum(log(col("cnt").cast("double") / col("t"))) / count(lit(1)), 6)
          .as("surprise"))
  }

  /** llm_pagerank's deterministic link graph: nodes (persisted) and
    * edges persisted PRE-PARTITIONED ON src, the per-round join key
    * (exposed for PlanDump's per-round plan evidence). Caller
    * unpersists both. */
  private[graft] def pagerankGraph(s: SparkSession): (DataFrame, DataFrame) = {
    val ncnt = s.table("documents").agg(count(lit(1)).as("n"))
    val nodes = s.table("documents").select(col("doc_id"))
      .crossJoin(broadcast(ncnt)).persist()
    val edges = nodes
      .select(col("doc_id").as("src"),
        explode(array(lit(8L), lit(15L), lit(22L))).as("off"), col("n"))
      .select(col("src"), expr("(src * 31 + off) % n").as("dst"))
      .repartition(col("src")).persist()
    edges.count()
    (nodes, edges)
  }

  /** One PageRank round from a given rank frame: the rank side shuffles
    * to the edges' persisted src layout, the dst-keyed contribution agg
    * is the round's single edge-wide exchange. Shared by the query loop
    * and PlanDump. */
  private[graft] def pagerankRound(nodes: DataFrame, edges: DataFrame,
      ranks: DataFrame): DataFrame = {
    val contrib = edges.join(ranks, edges("src") === ranks("doc_id"))
      .groupBy(col("dst")).agg(sum(expr("r div 3")).as("c"))
    nodes
      .join(contrib, col("doc_id") === col("dst"), "left")
      .select(col("doc_id"),
        (expr("150000000000 div n") + coalesce(expr("(85 * c) div 100"), lit(0L))).as("r"))
  }

  def queries: Seq[Q] = Seq(

    // Exact substring-span dedup (Lee et al. 2022, "Deduplicating
    // Training Data Makes Language Models Better"): a window is
    // duplicated iff its 13-gram occurs in ANOTHER document; per doc we
    // publish the duplicated-window count, the number of MAXIMAL
    // duplicated spans (the units that paper removes — islands via the
    // pos - row_number trick), and the first duplicated position.
    // Engine plan: positional gram hashes (8 bytes on the wire) ->
    // one gram-keyed agg for cross-doc df -> semi-join back (reuses the
    // gram partitioning) -> per-doc agg + one doc-partitioned window
    // bounded by doc length. Everything is linear in corpus token
    // count; nothing is corpus-quadratic (the suffix array the paper
    // builds is replaced by the gram-keyed shuffle, the distributed
    // equivalent).
    Q("llm_dedup_substring_spans",
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id, unnest([{'pos': i, 's': array_to_string(w[i:i+12], '_')}
        |        for i in generate_series(1, len(w)-12)], recursive := true)
        |      FROM toks WHERE len(w) >= 13),
        |df AS (SELECT s, count(DISTINCT doc_id) AS nd FROM g GROUP BY s),
        |dup AS (SELECT g.doc_id, g.pos FROM g JOIN df USING (s) WHERE nd > 1),
        |runs AS (SELECT doc_id, pos,
        |           pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |         FROM dup),
        |agg AS (SELECT doc_id, count(*) AS n_dup_windows,
        |          count(DISTINCT grp) AS n_dup_spans, min(pos) AS first_dup_pos
        |        FROM runs GROUP BY doc_id),
        |tot AS (SELECT doc_id, count(*) AS n_windows FROM g GROUP BY doc_id)
        |SELECT t.doc_id, CAST(n_windows AS BIGINT) AS n_windows,
        |  CAST(coalesce(n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
        |  CAST(coalesce(n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
        |  CAST(coalesce(first_dup_pos, 0) AS BIGINT) AS first_dup_pos
        |FROM tot t LEFT JOIN agg USING (doc_id)""".stripMargin) { (s, _) =>
      import org.apache.spark.sql.expressions.Window
      val g = posGramRows(s, 13)
      val crossDoc = g.groupBy("gh")
        .agg(count_distinct(col("doc_id")).as("nd"))
        .filter(col("nd") > 1).select("gh")
      val dup = g.join(crossDoc, "gh").select("doc_id", "pos")
      val runs = dup.withColumn("grp",
        col("pos") - row_number().over(Window.partitionBy("doc_id").orderBy("pos")))
      val agg = runs.groupBy("doc_id").agg(
        count(lit(1)).as("n_dup_windows"),
        count_distinct(col("grp")).as("n_dup_spans"),
        min("pos").as("first_dup_pos"))
      val tot = g.groupBy("doc_id").agg(count(lit(1)).as("n_windows"))
      tot.join(agg, Seq("doc_id"), "left").select(col("doc_id"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("first_dup_pos"), lit(0L)).as("first_dup_pos"))
    },

    // Paragraph-level global exact dedup WITH document reconstruction —
    // the removal step downstream of span detection (Lee et al. keep
    // one occurrence of each repeated unit and rewrite the documents):
    // texts split into 15-word paragraphs; a paragraph survives only at
    // its corpus-FIRST occurrence (min (doc_id, idx) — dedups across
    // AND within documents); each document is rebuilt from its
    // surviving paragraphs in order. All-Catalyst: paragraph slicing is
    // transform/slice/array_join + posexplode (no kernel), first
    // occurrence is one hash agg keyed on the paragraph hash (8 bytes
    // on the wire engine-side; the oracle joins full strings), and
    // reconstruction is sort_array(collect_list(struct)) per doc —
    // state bounded by document length, shuffles linear in paragraph
    // count.
    Q("llm_dedup_paragraph",
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |para AS (SELECT doc_id, unnest([{'idx': i, 'p': array_to_string(w[(i-1)*15+1:(i-1)*15+15], ' ')}
        |          for i in generate_series(1, (len(w)+14)//15)], recursive := true)
        |        FROM toks),
        |firstocc AS (SELECT p, min(doc_id) AS d0 FROM para GROUP BY p),
        |firstidx AS (SELECT f.p, f.d0, min(pa.idx) AS i0
        |             FROM firstocc f JOIN para pa ON pa.p = f.p AND pa.doc_id = f.d0
        |             GROUP BY f.p, f.d0),
        |kept AS (SELECT pa.doc_id, pa.idx, pa.p
        |         FROM para pa JOIN firstidx fi
        |           ON pa.p = fi.p AND pa.doc_id = fi.d0 AND pa.idx = fi.i0),
        |tot AS (SELECT doc_id, count(*) AS n_paras FROM para GROUP BY doc_id),
        |ked AS (SELECT doc_id, count(*) AS n_kept,
        |          string_agg(p, ' ' ORDER BY idx) AS cleaned_text
        |        FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, CAST(n_paras AS BIGINT) AS n_paras,
        |  CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
        |  coalesce(cleaned_text, '') AS cleaned_text
        |FROM tot t LEFT JOIN ked USING (doc_id)""".stripMargin) { (s, _) =>
      val w = split(col("text"), " ", -1)
      val nP = ceil(size(w) / lit(15.0)).cast("int")
      val paras = s.table("documents").select(col("doc_id"),
        posexplode(transform(sequence(lit(1), nP),
          i => array_join(slice(w, (i - lit(1)) * 15 + 1, lit(15)), " "))))
        .select(col("doc_id"), (col("pos") + 1).as("idx"), col("col").as("p"))
        .withColumn("ph", xxhash64(col("p")))
      val firstOcc = paras.groupBy("ph")
        .agg(min(struct(col("doc_id"), col("idx"))).as("f"))
        .select(col("ph"), col("f.doc_id").as("d0"), col("f.idx").as("i0"))
      val kept = paras.join(firstOcc,
        paras("ph") === firstOcc("ph") && col("doc_id") === col("d0") && col("idx") === col("i0"))
        .select(col("doc_id"), col("idx"), col("p"))
      val tot = paras.groupBy("doc_id").agg(count(lit(1)).as("n_paras"))
      val ked = kept.groupBy("doc_id").agg(
        count(lit(1)).as("n_kept"),
        array_join(transform(sort_array(collect_list(struct(col("idx"), col("p")))),
          x => x.getField("p")), " ").as("cleaned_text"))
      tot.join(ked, Seq("doc_id"), "left").select(col("doc_id"), col("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
    },

    // URL canonicalization + dedup (the crawl-frontier/WARC dedup step):
    // raw URLs carry host-case noise, www. prefixes, trailing slashes,
    // utm_* tracking params and fragments; normalization lowercases the
    // host, strips www./trailing-slash/fragment, and keeps ONLY the
    // meaningful query param (id) — then documents dedup by canonical
    // URL. The engine side runs through its own Presto URL function
    // surface (url_extract_host/path/parameter — UrlFunctions.java
    // parity, reference presto-main/.../scalar/UrlFunctions.java); the
    // oracle re-derives the same canonical form with plain regexes, so
    // any parse defect in the URL functions breaks the group structure.
    // Per-row codegen'd work plus one shuffle on the canonical key.
    Q("llm_url_dedup",
      """WITH raw AS (SELECT doc_id,
        |  'https://' || CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'WWW.Example.COM'
        |       WHEN 1 THEN 'www.example.com' ELSE 'example.com' END
        |  || '/articles/' || CAST(doc_id % 50 AS VARCHAR)
        |  || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
        |  || CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&id=' || CAST(doc_id % 50 AS VARCHAR) || '&utm_campaign=x'
        |          ELSE '?id=' || CAST(doc_id % 50 AS VARCHAR) END
        |  || CASE WHEN doc_id % 5 = 0 THEN '#section2' ELSE '' END AS url
        | FROM documents),
        |norm AS (SELECT doc_id,
        |  'https://' || regexp_replace(lower(regexp_extract(url, 'https://([^/]+)', 1)), '^www\.', '')
        |  || regexp_replace(regexp_extract(url, 'https://[^/]+([^?#]*)', 1), '/$', '')
        |  || '?id=' || regexp_extract(url, '[?&]id=([^&#]*)', 1) AS norm_url
        | FROM raw)
        |SELECT doc_id, norm_url,
        |  CAST(count(*) OVER (PARTITION BY norm_url) AS BIGINT) AS n_copies,
        |  CAST(min(doc_id) OVER (PARTITION BY norm_url) AS BIGINT) AS canonical_id
        |FROM norm""".stripMargin) { (s, _) =>
      s.sql(
        """WITH raw AS (SELECT doc_id,
          |  'https://' || CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'WWW.Example.COM'
          |       WHEN 1 THEN 'www.example.com' ELSE 'example.com' END
          |  || '/articles/' || CAST(doc_id % 50 AS STRING)
          |  || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
          |  || CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&id=' || CAST(doc_id % 50 AS STRING) || '&utm_campaign=x'
          |          ELSE '?id=' || CAST(doc_id % 50 AS STRING) END
          |  || CASE WHEN doc_id % 5 = 0 THEN '#section2' ELSE '' END AS url
          | FROM documents),
          |norm AS (SELECT doc_id,
          |  'https://' || regexp_replace(lower(url_extract_host(url)), '^www\\.', '')
          |  || regexp_replace(url_extract_path(url), '/$', '')
          |  || '?id=' || url_extract_parameter(url, 'id') AS norm_url
          | FROM raw)
          |SELECT doc_id, norm_url,
          |  CAST(count(*) OVER (PARTITION BY norm_url) AS BIGINT) AS n_copies,
          |  CAST(min(doc_id) OVER (PARTITION BY norm_url) AS BIGINT) AS canonical_id
          |FROM norm""".stripMargin)
    },

    // Gopher quality-rule battery (Rae et al. 2021 A1.1). The fixture
    // corpus is clean word soup, so rule-triggering structure (bullet
    // lines, ellipsis endings, symbol runs, numeric tokens, function
    // words) is injected deterministically from doc_id — same
    // construction in both engines, same convention as llm_pii_redact.
    // One projection over the scan: every signal is a codegen'd
    // split/filter/regexp chain, zero shuffles at any corpus size.
    Q("llm_quality_gopher",
      """WITH noisy AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN repeat('- bullet item' || chr(10), 10) ELSE '' END
        |    || text
        |    || CASE WHEN doc_id % 3 = 0 THEN ' of and that with' ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0 THEN repeat(' #', 8) ELSE '' END
        |    || CASE WHEN doc_id % 13 = 0 THEN repeat(' 12345', 20) ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'to be continued...' || chr(10) || 'more...' ELSE '' END AS t
        |  FROM documents),
        |m AS (SELECT doc_id, t,
        |    string_split_regex(t, '\s+') AS w,
        |    string_split(t, chr(10)) AS lines
        |  FROM noisy),
        |r AS (SELECT doc_id,
        |    CAST(len(w) AS BIGINT) AS n_words,
        |    CAST(length(regexp_replace(t, '\s+', '', 'g')) AS DOUBLE) / len(w) AS mean_wl,
        |    (length(t) - length(replace(t, '#', ''))
        |       + len(regexp_extract_all(t, '\.\.\.'))) * 1.0 / len(w) AS symbol_ratio,
        |    len(list_filter(lines, l -> starts_with(l, '- ') OR starts_with(l, '* '))) * 1.0 / len(lines) AS bullet_frac,
        |    len(list_filter(lines, l -> ends_with(l, '...'))) * 1.0 / len(lines) AS ellipsis_frac,
        |    len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / len(w) AS alpha_frac,
        |    len(list_distinct(list_filter(w, x -> x IN ('the','be','to','of','and','that','have','with')))) AS n_stop
        |  FROM m)
        |SELECT doc_id, n_words, round(mean_wl, 6) AS mean_word_len,
        |  n_words BETWEEN 50 AND 100000 AS pass_word_count,
        |  mean_wl BETWEEN 3 AND 10 AS pass_word_len,
        |  symbol_ratio <= 0.1 AS pass_symbol,
        |  bullet_frac <= 0.9 AS pass_bullet,
        |  ellipsis_frac <= 0.3 AS pass_ellipsis,
        |  alpha_frac >= 0.8 AS pass_alpha,
        |  n_stop >= 2 AS pass_stopwords,
        |  (n_words BETWEEN 50 AND 100000) AND (mean_wl BETWEEN 3 AND 10)
        |    AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9 AND ellipsis_frac <= 0.3
        |    AND alpha_frac >= 0.8 AND n_stop >= 2 AS keep
        |FROM r""".stripMargin) { (s, _) =>
      val stop = Seq("the", "be", "to", "of", "and", "that", "have", "with")
      val t = concat(
        when(col("doc_id") % 7 === 0, lit("- bullet item\n" * 10)).otherwise(""),
        col("text"),
        when(col("doc_id") % 3 === 0, lit(" of and that with")).otherwise(""),
        when(col("doc_id") % 5 === 0, lit(" #" * 8)).otherwise(""),
        when(col("doc_id") % 13 === 0, lit(" 12345" * 20)).otherwise(""),
        when(col("doc_id") % 11 === 0, lit("\nto be continued...\nmore...")).otherwise(""))
      val base = s.table("documents").select(col("doc_id"), t.as("t"),
        split(t, "\\s+").as("w"), split(t, "\n", -1).as("lines"))
      val nWords = size(col("w"))
      val meanWl = length(regexp_replace(col("t"), "\\s+", "")).cast("double") / nWords
      val symbolRatio = (length(col("t")) - length(translate(col("t"), "#", ""))
        + regexp_count(col("t"), lit("\\.\\.\\."))) * lit(1.0) / nWords
      val bulletFrac = size(filter(col("lines"),
        l => l.startsWith("- ") || l.startsWith("* "))) * lit(1.0) / size(col("lines"))
      val ellipsisFrac = size(filter(col("lines"), l => l.endsWith("..."))) * lit(1.0) /
        size(col("lines"))
      val alphaFrac = size(filter(col("w"), x => x.rlike("[A-Za-z]"))) * lit(1.0) / nWords
      val nStop = size(array_distinct(filter(col("w"), x => x.isInCollection(stop))))
      val r = base.select(col("doc_id"), nWords.cast("long").as("n_words"),
        meanWl.as("mean_wl"), symbolRatio.as("symbol_ratio"), bulletFrac.as("bullet_frac"),
        ellipsisFrac.as("ellipsis_frac"), alphaFrac.as("alpha_frac"), nStop.as("n_stop"))
      val passWc = col("n_words").between(50, 100000)
      val passWl = col("mean_wl").between(3, 10)
      val passSym = col("symbol_ratio") <= 0.1
      val passBul = col("bullet_frac") <= 0.9
      val passEll = col("ellipsis_frac") <= 0.3
      val passAlpha = col("alpha_frac") >= 0.8
      val passStop = col("n_stop") >= 2
      r.select(col("doc_id"), col("n_words"), round(col("mean_wl"), 6).as("mean_word_len"),
        passWc.as("pass_word_count"), passWl.as("pass_word_len"), passSym.as("pass_symbol"),
        passBul.as("pass_bullet"), passEll.as("pass_ellipsis"), passAlpha.as("pass_alpha"),
        passStop.as("pass_stopwords"),
        (passWc && passWl && passSym && passBul && passEll && passAlpha && passStop).as("keep"))
    },

    // C4 cleaning battery (Raffel et al. 2020 §2.2, the T5 corpus): the
    // full rule set on one pass — LINE filters (keep only lines ending
    // in terminal punctuation, with >= 3 words, not mentioning
    // javascript), PAGE filters (drop pages containing 'lorem ipsum' or
    // a curly brace, or with < 5 retained sentences), then C4's
    // distinctive GLOBAL dedup unit: any THREE-SENTENCE SPAN occurring
    // more than once in the corpus survives only at its first
    // occurrence, and the covered sentences are removed everywhere
    // else; documents are rebuilt from surviving sentences. The fixture
    // corpus is flat word soup, so lines/sentences are derived
    // deterministically (8-word chunks + '.') and rule-triggering noise
    // is injected from doc_id (same convention as llm_quality_gopher):
    // %5 -> a shared 3-sentence intro (THE duplicated span), %7 -> an
    // unpunctuated line, %11 -> a javascript line, %13 -> a 2-word
    // line, %17/%19 -> lorem-ipsum / curly-brace page poison.
    // Engine plan: line/page filters are codegen'd array ops on the
    // scan (zero shuffle); span dedup is one hash agg on 8-byte span
    // hashes (first occurrence = min over the (doc_id, idx) row tuple —
    // an arithmetic packing would collide on >=1000-sentence pages) +
    // an anti-join back +
    // one per-doc rebuild bounded by document length — all linear in
    // corpus sentence count. The oracle replays every rule on span
    // STRINGS, so an engine-side hash defect breaks group structure.
    Q("llm_c4_clean",
      """WITH base AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |built AS (SELECT doc_id,
        |    (CASE WHEN doc_id % 5 = 0 THEN
        |       ['the data pipeline runs every day.',
        |        'quality filters remove noisy content.',
        |        'deduplication keeps one copy of each span.'] ELSE [] END)
        |    || [array_to_string(w[(i-1)*8+1:(i-1)*8+8], ' ') || '.'
        |        for i in generate_series(1, (len(w)+7)//8)]
        |    || (CASE WHEN doc_id % 7 = 0 THEN ['click here to subscribe now'] ELSE [] END)
        |    || (CASE WHEN doc_id % 11 = 0 THEN ['please enable javascript to continue.'] ELSE [] END)
        |    || (CASE WHEN doc_id % 13 = 0 THEN ['ok thanks.'] ELSE [] END)
        |    || (CASE WHEN doc_id % 17 = 0 THEN ['lorem ipsum dolor sit amet.'] ELSE [] END)
        |    || (CASE WHEN doc_id % 19 = 0 THEN ['callback = function() { return x; }.'] ELSE [] END)
        |    AS lines
        |  FROM base),
        |f AS (SELECT doc_id, lines,
        |    list_filter(lines, l -> (ends_with(l, '.') OR ends_with(l, '!') OR ends_with(l, '?'))
        |      AND len(string_split(l, ' ')) >= 3
        |      AND NOT contains(l, 'javascript')) AS kept
        |  FROM built),
        |p AS (SELECT doc_id, len(lines) AS n_lines, len(kept) AS n_kept, kept,
        |    NOT contains(array_to_string(lines, chr(10)), 'lorem ipsum')
        |    AND NOT contains(array_to_string(lines, chr(10)), '{')
        |    AND len(kept) >= 5 AS page_kept
        |  FROM f),
        |sent AS (SELECT doc_id, unnest([{'idx': i, 's': kept[i]}
        |    for i in generate_series(1, len(kept))], recursive := true)
        |  FROM p WHERE page_kept),
        |led AS (SELECT doc_id, idx, s,
        |    lead(s, 1) OVER (PARTITION BY doc_id ORDER BY idx) AS s1,
        |    lead(s, 2) OVER (PARTITION BY doc_id ORDER BY idx) AS s2
        |  FROM sent),
        |sp AS (SELECT doc_id, idx, s || ' ' || s1 || ' ' || s2 AS span
        |  FROM led WHERE s2 IS NOT NULL),
        |firsts AS (SELECT span, min(row(doc_id, idx)) AS fk FROM sp GROUP BY span),
        |dupcover AS (SELECT DISTINCT doc_id, unnest([idx, idx + 1, idx + 2]) AS idx
        |  FROM sp JOIN firsts USING (span)
        |  WHERE row(sp.doc_id, sp.idx) <> fk),
        |fin AS (SELECT s.doc_id, count(*) AS n_final,
        |    array_to_string(list(s.s ORDER BY s.idx), ' ') AS clean_text
        |  FROM sent s LEFT JOIN dupcover d ON s.doc_id = d.doc_id AND s.idx = d.idx
        |  WHERE d.doc_id IS NULL GROUP BY s.doc_id)
        |SELECT p.doc_id, page_kept,
        |  CAST(n_lines AS BIGINT) AS n_lines, CAST(n_kept AS BIGINT) AS n_kept,
        |  CAST(CASE WHEN page_kept THEN coalesce(n_final, 0) ELSE 0 END AS BIGINT) AS n_final,
        |  CASE WHEN page_kept THEN coalesce(clean_text, '') ELSE '' END AS clean_text
        |FROM p LEFT JOIN fin ON p.doc_id = fin.doc_id""".stripMargin) { (s, _) =>
      val d = col("doc_id")
      def optLine(cond: Column, line: String): Column =
        when(cond, array(lit(line))).otherwise(array().cast("array<string>"))
      val w = split(col("text"), " ", -1)
      val body = transform(sequence(lit(1), ceil(size(w) / lit(8.0)).cast("int")),
        i => concat(array_join(slice(w, (i - lit(1)) * 8 + 1, lit(8)), " "), lit(".")))
      val lines = concat(
        when(d % 5 === 0, array(
          lit("the data pipeline runs every day."),
          lit("quality filters remove noisy content."),
          lit("deduplication keeps one copy of each span."))).otherwise(array().cast("array<string>")),
        body,
        optLine(d % 7 === 0, "click here to subscribe now"),
        optLine(d % 11 === 0, "please enable javascript to continue."),
        optLine(d % 13 === 0, "ok thanks."),
        optLine(d % 17 === 0, "lorem ipsum dolor sit amet."),
        optLine(d % 19 === 0, "callback = function() { return x; }."))
      val kept = filter(lines, l =>
        (l.endsWith(".") || l.endsWith("!") || l.endsWith("?")) &&
          size(split(l, " ", -1)) >= 3 && !l.contains("javascript"))
      val page = array_join(lines, "\n")
      // r16: doc-keyed exchange BEFORE the line-build kernel (the
      // fixture's single parquet file scans as ONE task — the
      // kn-trigram/video-dedup lesson), and the built frame is PINNED:
      // three consumers (sent, the span stream, the final join) would
      // otherwise each re-run the whole split/transform/filter kernel.
      val docs = s.table("documents").select(d, col("text"))
        .repartition(d).select(d,
          size(lines).as("n_lines"), size(kept).as("n_kept"), kept.as("kept"),
          (!page.contains("lorem ipsum") && !page.contains("{") &&
            size(kept) >= 5).as("page_kept"))
        .pinned()
      val sent = docs.filter(col("page_kept"))
        .select(col("doc_id"), posexplode(col("kept")))
        .select(col("doc_id"), (col("pos") + 1).as("idx"), col("col").as("s"))
      // r16: spans are built MAP-SIDE from the kept array (page_kept
      // implies >= 5 sentences, so the 1..n-2 sequence is never empty or
      // descending). The previous lead()-window formulation shuffled and
      // sorted the whole sentence stream by doc_id just to look two rows
      // ahead inside an array the row already carries — one Exchange +
      // Sort gone from the largest intermediate (guide §2.4).
      val sp = docs.filter(col("page_kept"))
        .select(col("doc_id"), posexplode(transform(
          sequence(lit(1), size(col("kept")) - 2),
          i => xxhash64(concat_ws(" ",
            element_at(col("kept"), i),
            element_at(col("kept"), i + 1),
            element_at(col("kept"), i + 2))))))
        .select(col("doc_id"), (col("pos") + 1).as("idx"), col("col").as("sh"))
      val firsts = sp.groupBy("sh").agg(min(struct(col("doc_id"), col("idx"))).as("fk"))
      val dupCover = sp.join(firsts, "sh")
        .filter(struct(col("doc_id"), col("idx")) =!= col("fk"))
        .select(col("doc_id"), explode(sequence(col("idx"), col("idx") + 2)).as("idx"))
        .distinct()
      val fin = sent.join(dupCover, Seq("doc_id", "idx"), "left_anti")
        .groupBy("doc_id").agg(
          count(lit(1)).as("n_final"),
          array_join(transform(sort_array(collect_list(struct(col("idx"), col("s")))),
            x => x.getField("s")), " ").as("clean_text"))
      docs.join(fin, Seq("doc_id"), "left").select(col("doc_id"), col("page_kept"),
        col("n_lines").cast("long").as("n_lines"), col("n_kept").cast("long").as("n_kept"),
        when(col("page_kept"), coalesce(col("n_final"), lit(0L))).otherwise(0L)
          .cast("long").as("n_final"),
        when(col("page_kept"), coalesce(col("clean_text"), lit(""))).otherwise("")
          .as("clean_text"))
    },

    // DSIR importance resampling (Xie et al. NeurIPS 2023): per-document
    // weight = mean over its distinct word bigrams of the target/raw
    // log-likelihood ratio (add-0.5 smoothed document frequencies);
    // 'en'-labeled docs stand in for the target domain. The engine flows
    // 8-byte gram HASHES (same kernel as decontamination), never strings:
    // one gram-keyed hash agg counts both corpora in a single pass
    // (count + conditional count), the λ-join reuses that partitioning,
    // and one doc-keyed reduce emits the weight — three exchanges total,
    // all linear in corpus gram count. Production would bucket hashes to
    // B=10k features (collisions intended, per the paper); full-width
    // hashes here keep the string-gram oracle exact.
    Q("llm_importance_resample",
      """WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id, lang, unnest(list_distinct([w[i] || '_' || w[i+1]
        |        for i in generate_series(1, len(w)-1)])) AS s
        |      FROM toks WHERE len(w) >= 2),
        |cnt AS (SELECT s, count(*) AS c_raw,
        |          count(*) FILTER (lang = 'en') AS c_tgt
        |        FROM g GROUP BY s),
        |sc AS (SELECT g.doc_id, avg(ln((c_tgt + 0.5) / (c_raw + 0.5))) AS raw_score
        |       FROM g JOIN cnt USING (s) GROUP BY g.doc_id)
        |SELECT doc_id, round(raw_score, 6) AS dsir_weight,
        |       raw_score >= -0.8 AS selected
        |FROM sc""".stripMargin) { (s, _) =>
      val grams = PipelineQueries.ngramHashRows(s, 2, distinct = true)
      val lang = s.table("documents").select(col("doc_id").cast("long").as("doc_id"), col("lang"))
      val g = grams.join(lang, "doc_id")
      val cnt = g.groupBy("gh").agg(
        count(lit(1)).as("c_raw"),
        count(when(col("lang") === "en", lit(1))).as("c_tgt"))
      g.join(cnt, "gh")
        .groupBy("doc_id")
        .agg(avg(log((col("c_tgt") + 0.5) / (col("c_raw") + 0.5))).as("raw_score"))
        .select(col("doc_id"), round(col("raw_score"), 6).as("dsir_weight"),
          (col("raw_score") >= -0.8).as("selected"))
    },

    // Distributed k-means (Lloyd) over the embedding column: k=8 seeds
    // (lowest vec_ids — deterministic), two mean-update rounds, final
    // assignment. Per round: centroids BROADCAST to the scan (k*dims
    // doubles — bounded metadata), assignment is a map-side min_by over
    // k codegen'd distances (ties to the lowest cluster id via the
    // struct key), and cell means flow through `vec_mean`'s flat
    // double[dims] buffer — one exchange carrying k rows per partition,
    // never dims-exploded rows. At 100 TB this is 3 scans + 3 tiny
    // exchanges; k scales with the target cluster occupancy, and the
    // centroid set stays broadcast-sized through 100k clusters. The
    // oracle unrolls the identical two rounds as CTEs; centroid
    // quantization (see `quant`) makes every distance comparison
    // engine-independent.
    Q("llm_kmeans_cluster",
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |c0 AS (SELECT vec_id AS cl, list_transform(e, x -> floor(x * 1000000 + 0.5) / 1000000) AS cent
        |       FROM v WHERE vec_id < 8),
        |d1 AS (SELECT v.vec_id, c0.cl,
        |         list_sum(list_transform(list_zip(v.e, c0.cent), p -> (p[1]-p[2])*(p[1]-p[2]))) AS dist
        |       FROM v CROSS JOIN c0),
        |a1 AS (SELECT vec_id, cl FROM (SELECT vec_id, cl,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) rn FROM d1) WHERE rn=1),
        |m1 AS (SELECT a1.cl, i.i, avg(v.e[i.i]) AS m
        |       FROM v JOIN a1 USING (vec_id) CROSS JOIN generate_series(1, 64) AS i(i)
        |       GROUP BY a1.cl, i.i),
        |c1 AS (SELECT cl, list_transform(list(m ORDER BY i), x -> floor(x * 1000000 + 0.5) / 1000000) AS cent
        |       FROM m1 GROUP BY cl),
        |d2 AS (SELECT v.vec_id, c1.cl,
        |         list_sum(list_transform(list_zip(v.e, c1.cent), p -> (p[1]-p[2])*(p[1]-p[2]))) AS dist
        |       FROM v CROSS JOIN c1),
        |a2 AS (SELECT vec_id, cl FROM (SELECT vec_id, cl,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) rn FROM d2) WHERE rn=1),
        |m2 AS (SELECT a2.cl, i.i, avg(v.e[i.i]) AS m
        |       FROM v JOIN a2 USING (vec_id) CROSS JOIN generate_series(1, 64) AS i(i)
        |       GROUP BY a2.cl, i.i),
        |c2 AS (SELECT cl, list_transform(list(m ORDER BY i), x -> floor(x * 1000000 + 0.5) / 1000000) AS cent
        |       FROM m2 GROUP BY cl),
        |d3 AS (SELECT v.vec_id, c2.cl,
        |         list_sum(list_transform(list_zip(v.e, c2.cent), p -> (p[1]-p[2])*(p[1]-p[2]))) AS dist
        |       FROM v CROSS JOIN c2),
        |a3 AS (SELECT vec_id, cl FROM (SELECT vec_id, cl,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) rn FROM d3) WHERE rn=1)
        |SELECT vec_id, cl AS cluster FROM a3""".stripMargin) { (s, _) =>
      val e = vecs(s).select(col("vec_id"), col("e"))
      val c0 = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cl"), quant(col("e")).as("cent"))
      def assign(cents: DataFrame): DataFrame = e.join(broadcast(cents))
        .select(col("vec_id"), col("cl"), sqDist(col("e"), col("cent")).as("dist"))
        .groupBy("vec_id")
        .agg(min_by(col("cl"), struct(col("dist"), col("cl"))).as("cl"))
      def means(assigned: DataFrame): DataFrame = assigned.join(e, "vec_id")
        .groupBy("cl")
        .agg(call_udf("vec_mean", col("e")).as("m"))
        .select(col("cl"), quant(col("m")).as("cent"))
      val c1 = means(assign(c0)).pinned()
      val c2 = means(assign(c1)).pinned()
      assign(c2).select(col("vec_id"), col("cl").as("cluster"))
    },

    // PCA top component via MATRIX-FREE power iteration (the embedding
    // whitening/analysis step SemDeDup-family pipelines run before
    // clustering): v_{r+1} = normalize(mean_i e_i * (e_i . v_r)), three
    // rounds from the uniform start v_0 = 1/sqrt(64). The covariance
    // matrix is never materialized — each round is ONE map-side dot
    // product against the dims-sized vector and ONE flat vec_mean agg
    // (double[dims] buffer per partition), so the cost per round is a
    // single linear scan at ANY dimensionality: at production 4k dims
    // the explicit Gram matrix is 16M entries and a dims^2 shuffle,
    // while this stays a 4k-double accumulator. The iterate lives in a
    // 1-row DataFrame cross-joined onto the scan (auto-broadcast; no
    // collect anywhere), localCheckpoint()ed per round to truncate
    // lineage. Determinism: the normalized iterate is quantized to 6
    // decimals half-up after every round (the k-means centroid
    // convention) and the DuckDB oracle unrolls the identical three
    // rounds, so projections match bit-for-bit; output projections are
    // quantized with the same explicit formula. The op is DEFINED as
    // "3 power-iteration rounds", so its output is deterministic
    // regardless of eigengap.
    Q("llm_pca_power",
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |v0 AS (SELECT list_transform(generate_series(1, 64), i -> 0.125) AS vv),
        |t1 AS (SELECT vec_id, e, list_sum(list_transform(list_zip(e, vv), p -> p[1]*p[2])) AS t
        |       FROM v CROSS JOIN v0),
        |s1 AS (SELECT i.i, avg(e[i.i] * t) AS m FROM t1 CROSS JOIN generate_series(1, 64) AS i(i) GROUP BY i.i),
        |c1 AS (SELECT list(m ORDER BY i) AS sv FROM s1),
        |v1 AS (SELECT list_transform(sv, x -> floor(x / sqrt(list_sum(list_transform(sv, y -> y*y))) * 1000000 + 0.5) / 1000000) AS vv FROM c1),
        |t2 AS (SELECT vec_id, e, list_sum(list_transform(list_zip(e, vv), p -> p[1]*p[2])) AS t
        |       FROM v CROSS JOIN v1),
        |s2 AS (SELECT i.i, avg(e[i.i] * t) AS m FROM t2 CROSS JOIN generate_series(1, 64) AS i(i) GROUP BY i.i),
        |c2 AS (SELECT list(m ORDER BY i) AS sv FROM s2),
        |v2 AS (SELECT list_transform(sv, x -> floor(x / sqrt(list_sum(list_transform(sv, y -> y*y))) * 1000000 + 0.5) / 1000000) AS vv FROM c2),
        |t3 AS (SELECT vec_id, e, list_sum(list_transform(list_zip(e, vv), p -> p[1]*p[2])) AS t
        |       FROM v CROSS JOIN v2),
        |s3 AS (SELECT i.i, avg(e[i.i] * t) AS m FROM t3 CROSS JOIN generate_series(1, 64) AS i(i) GROUP BY i.i),
        |c3 AS (SELECT list(m ORDER BY i) AS sv FROM s3),
        |v3 AS (SELECT list_transform(sv, x -> floor(x / sqrt(list_sum(list_transform(sv, y -> y*y))) * 1000000 + 0.5) / 1000000) AS vv FROM c3)
        |SELECT vec_id,
        |  floor(list_sum(list_transform(list_zip(e, vv), p -> p[1]*p[2])) * 1000000 + 0.5) / 1000000 AS proj
        |FROM v CROSS JOIN v3""".stripMargin) { (s, _) =>
      val e = vecs(s).select(col("vec_id"), col("e"))
      def dot(a: Column, b: Column): Column =
        aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)
      // normalize + 6dp half-up quantize, all inside the 1-row frame
      def quantNorm(sv: Column): Column = {
        val nrm = sqrt(aggregate(sv, lit(0.0d), (acc, x) => acc + x * x))
        transform(sv, x => floor(x / nrm * lit(1000000.0d) + lit(0.5d)) / lit(1000000.0d))
      }
      val v0 = s.range(1).select(array_repeat(lit(0.125d), 64).as("vv"))
      val v3 = (1 to 3).foldLeft(v0) { (vdf, _) =>
        val t = e.crossJoin(vdf)
          .select(col("vec_id"), col("e"), dot(col("e"), col("vv")).as("t"))
        t.select(transform(col("e"), x => x * col("t")).as("et"))
          .agg(call_udf("vec_mean", col("et")).as("sv"))
          .select(quantNorm(col("sv")).as("vv"))
          .pinned()
      }
      e.crossJoin(v3).select(col("vec_id"),
        (floor(dot(col("e"), col("vv")) * lit(1000000.0d) + lit(0.5d))
          / lit(1000000.0d)).as("proj"))
    },

    // HTML main-content extraction (the CommonCrawl-to-text step every
    // web-scale corpus starts with): deterministic synthetic HTML is
    // built around each document's text (head/script, nav, ad div,
    // footer boilerplate; the body split across two <p> blocks at the
    // first space after the midpoint), then extracted back by a
    // boilerplate-strip regex chain — remove head/nav/ad/footer blocks,
    // strip remaining tags, collapse whitespace. Pure per-row codegen'd
    // regexps (RE2/Java common subset — lazy .*? only), zero shuffles at
    // any corpus size. The pinned property: extraction is LOSSLESS —
    // `extracted = text` for every document (the split never lands
    // mid-word), which the oracle checks as a published column.
    Q("llm_html_extract",
      """WITH sp AS (SELECT doc_id, text,
        |    CAST(n_chars // 2 AS INT) + strpos(substr(text, CAST(n_chars // 2 AS INT) + 1), ' ') AS cut,
        |    strpos(substr(text, CAST(n_chars // 2 AS INT) + 1), ' ') > 0 AS has_cut
        |  FROM documents),
        |parts AS (SELECT doc_id, text,
        |    CASE WHEN has_cut THEN substr(text, 1, cut - 1) ELSE text END AS p1,
        |    CASE WHEN has_cut THEN substr(text, cut + 1) ELSE '' END AS p2
        |  FROM sp),
        |html AS (SELECT doc_id, text,
        |    '<html><head><title>Doc ' || doc_id || '</title><script>var x=' || doc_id || ';</script></head>'
        |    || '<body><nav>home | about | contact</nav>'
        |    || '<p>' || p1 || '</p>'
        |    || '<div class="ad">BUY NOW limited offer!!!</div>'
        |    || '<p>' || p2 || '</p>'
        |    || '<footer>(c) 2024 example.com</footer></body></html>' AS h
        |  FROM parts),
        |x AS (SELECT doc_id, text, h,
        |    trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(h,
        |      '<head>.*?</head>', ' ', 'g'),
        |      '<nav>.*?</nav>', ' ', 'g'),
        |      '<div class="ad">.*?</div>', ' ', 'g'),
        |      '<footer>.*?</footer>', ' ', 'g'),
        |      '<[^>]*>', ' ', 'g'),
        |      '\s+', ' ', 'g')) AS extracted
        |  FROM html)
        |SELECT doc_id, extracted, CAST(length(h) AS BIGINT) AS html_len,
        |  round(1.0 - length(extracted) * 1.0 / length(h), 6) AS boilerplate_frac,
        |  extracted = text AS lossless
        |FROM x""".stripMargin) { (s, _) =>
      val mid = floor(col("n_chars") / 2).cast("int")
      val rest = col("text").substr(mid + 1, length(col("text")))
      val spPos = instr(rest, " ")
      val cut = mid + spPos
      val hasCut = spPos > 0
      val p1 = when(hasCut, col("text").substr(lit(1), cut - 1)).otherwise(col("text"))
      val p2 = when(hasCut, col("text").substr(cut + 1, length(col("text")))).otherwise(lit(""))
      val h = concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit("</title><script>var x="), col("doc_id").cast("string"),
        lit(";</script></head>"),
        lit("<body><nav>home | about | contact</nav>"),
        lit("<p>"), p1, lit("</p>"),
        lit("<div class=\"ad\">BUY NOW limited offer!!!</div>"),
        lit("<p>"), p2, lit("</p>"),
        lit("<footer>(c) 2024 example.com</footer></body></html>"))
      val extracted = trim(
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(h,
          "<head>.*?</head>", " "),
          "<nav>.*?</nav>", " "),
          "<div class=\"ad\">.*?</div>", " "),
          "<footer>.*?</footer>", " "),
          "<[^>]*>", " "),
          "\\s+", " "))
      s.table("documents").select(col("doc_id"), extracted.as("extracted"),
        length(h).cast("long").as("html_len"),
        round(lit(1.0) - length(extracted) * lit(1.0) / length(h), 6).as("boilerplate_frac"),
        (extracted === col("text")).as("lossless"))
    },

    // SemDeDup (Abbas et al. 2023): near-duplicate removal scoped to a
    // k-means cell assignment — and, critically for scale, k GROWS WITH
    // THE CORPUS: k = max(8, n/250), the paper's own lever (they use 50k
    // clusters on LAION), so cell occupancy — and the O(sum cluster²)
    // pairwise term — stays ~250 at every corpus size. Centroid
    // ASSIGNMENT goes through an IVF COARSE-QUANTIZER PROBE (the
    // llm_knn_ivf shape) instead of brute n·k distances, which with
    // k = n/250 would be n²/250 corpus-quadratic work (measured ×26.5
    // CPU on ×10 data in r11): m = max(4, floor(sqrt(k))) coarse cells
    // (one Lloyd round, always broadcast-sized), each point probes its
    // top-2 coarse cells (a WindowGroupLimit-pruned top-2, ~2n rows on
    // the wire), each fine centroid homes to its nearest coarse cell,
    // and exact distances are computed only for (point, fine centroid)
    // pairs that share a probed cell — a SHUFFLE join keyed on the
    // coarse cell, so the k-row fine-centroid set is never broadcast.
    // Points whose probe set holds no fine centroid (rare) fall back to
    // a brute pass over only those points. Total assignment work is
    // ~n·√k per Lloyd round instead of n·k — and since r13 the Lloyd
    // rounds themselves train on a bounded deterministic SAMPLE
    // (hash-mod thinning at 64/250 ≈ 64 points per centroid, the FAISS
    // points-per-centroid convention; seeds always included), so the
    // full corpus is touched by exactly ONE probed assign pass.
    // Seeds/rounds/6dp half-up centroid quantization follow
    // llm_kmeans_cluster; the unrolled-CTE oracle replays the IDENTICAL
    // sample + probe algorithm bit-for-bit. A
    // vector is a duplicate if a LOWER-id vector in its final cell has
    // cosine >= tau, recording the lowest such keeper; the pairwise
    // join shuffles on the cell key only.
    Q("llm_cluster_semdedup", {
      def dSql(a: String, b: String) =
        s"list_sum(list_transform(list_zip($a, $b), z -> (z[1]-z[2])*(z[1]-z[2])))"
      val qSql = "list_transform(%s, x -> floor(x * 1000000 + 0.5) / 1000000)"
      // one probed-assignment round: cents c{r-1} -> assignment a{r}.
      // `src` is the point set being assigned — the training SAMPLE for
      // the Lloyd rounds, the full corpus for the final pass (mirrors
      // the engine's assign(cents, pts)).
      def round(r: Int, src: String) = {
        val c = s"c${r - 1}"
        s"""hq$r AS (SELECT cl, ccl FROM (
           |    SELECT $c.cl, cc1.ccl, row_number() OVER (PARTITION BY $c.cl
           |      ORDER BY ${dSql(s"$c.cent", "cc1.cent")}, cc1.ccl) rn
           |    FROM $c CROSS JOIN cc1) WHERE rn = 1),
           |cand$r AS (SELECT pr.vec_id, ch.cl, ${dSql("v.e", "ch.cent")} AS dist
           |  FROM probe pr
           |  JOIN (SELECT $c.cl, $c.cent, hq$r.ccl FROM $c JOIN hq$r USING (cl)) ch
           |    ON ch.ccl = pr.ccl
           |  JOIN $src v ON v.vec_id = pr.vec_id),
           |am$r AS (SELECT vec_id, cl FROM (SELECT vec_id, cl,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) rn FROM cand$r)
           |  WHERE rn = 1),
           |af$r AS (SELECT vec_id, cl FROM (
           |    SELECT v.vec_id, $c.cl, row_number() OVER (PARTITION BY v.vec_id
           |      ORDER BY ${dSql("v.e", s"$c.cent")}, $c.cl) rn
           |    FROM $src v CROSS JOIN $c
           |    WHERE v.vec_id NOT IN (SELECT vec_id FROM am$r)) WHERE rn = 1),
           |a$r AS (SELECT * FROM am$r UNION ALL SELECT * FROM af$r)""".stripMargin
      }
      def meansSql(r: Int) =
        s"""m$r AS (SELECT a$r.cl, i.i, avg(v.e[i.i]) AS m
           |       FROM v JOIN a$r USING (vec_id) CROSS JOIN generate_series(1, 64) AS i(i)
           |       GROUP BY a$r.cl, i.i),
           |c$r AS (SELECT cl, ${qSql.format("list(m ORDER BY i)")} AS cent
           |       FROM m$r GROUP BY cl)""".stripMargin
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
         |kk AS (SELECT greatest(8, count(*) // 250) AS k,
         |         greatest(4, CAST(floor(sqrt(greatest(8, count(*) // 250))) AS BIGINT)) AS cm
         |       FROM v),
         |samp AS (SELECT v.vec_id, v.e FROM v, kk
         |         WHERE (vec_id % 250) * 2654435761 % 250 < 64 OR vec_id < k),
         |cc0 AS (SELECT vec_id AS ccl, ${qSql.format("e")} AS cent
         |        FROM v, kk WHERE vec_id < cm),
         |cd1 AS (SELECT v.vec_id, cc0.ccl, ${dSql("v.e", "cc0.cent")} AS dist
         |        FROM samp v CROSS JOIN cc0),
         |ca1 AS (SELECT vec_id, ccl FROM (SELECT vec_id, ccl,
         |          row_number() OVER (PARTITION BY vec_id ORDER BY dist, ccl) rn FROM cd1)
         |        WHERE rn = 1),
         |cm1 AS (SELECT ca1.ccl, i.i, avg(v.e[i.i]) AS m
         |        FROM v JOIN ca1 USING (vec_id) CROSS JOIN generate_series(1, 64) AS i(i)
         |        GROUP BY ca1.ccl, i.i),
         |cc1 AS (SELECT ccl, ${qSql.format("list(m ORDER BY i)")} AS cent
         |        FROM cm1 GROUP BY ccl),
         |pd AS (SELECT v.vec_id, cc1.ccl, ${dSql("v.e", "cc1.cent")} AS dist
         |       FROM v CROSS JOIN cc1),
         |probe AS (SELECT vec_id, ccl FROM (SELECT vec_id, ccl,
         |            row_number() OVER (PARTITION BY vec_id ORDER BY dist, ccl) rn FROM pd)
         |          WHERE rn <= 2),
         |c0 AS (SELECT vec_id AS cl, ${qSql.format("e")} AS cent
         |       FROM v, kk WHERE vec_id < k),
         |${round(1, "samp")},
         |${meansSql(1)},
         |${round(2, "samp")},
         |${meansSql(2)},
         |${round(3, "v")},
         |nn AS (SELECT v.vec_id, a3.cl, v.e,
         |         sqrt(list_sum(list_transform(v.e, x -> x*x))) AS nrm
         |       FROM v JOIN a3 USING (vec_id)),
         |p AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
         |        list_sum(list_transform(list_zip(a.e, b.e), z -> z[1]*z[2])) / (a.nrm*b.nrm) AS cs
         |      FROM nn a JOIN nn b ON a.cl = b.cl AND b.vec_id < a.vec_id)
         |SELECT ia AS vec_id, min(ib) AS dup_of, count(*) AS n_dup_neighbors
         |FROM p WHERE cs >= 0.35 GROUP BY ia""".stripMargin
    }) { (s, _) =>
      import org.apache.spark.sql.expressions.Window
      val e = vecs(s).select(col("vec_id"), col("e"))
      val kDf = e.agg(greatest(lit(8L), (count(lit(1)) / lit(250)).cast("long")).as("k"))
        .select(col("k"), greatest(lit(4L), floor(sqrt(col("k"))).cast("long")).as("cm"))
      // FAISS-style SAMPLE training: every Lloyd round (coarse and fine)
      // sees only a bounded deterministic sample — hash-mod thinning at
      // rate 64/250, i.e. ~64 points per fine centroid with k = n/250
      // (FAISS's points-per-centroid convention), seeds always included
      // so training never sees fewer than k points. The FULL corpus is
      // touched by exactly ONE probed assign pass (the final `cells`),
      // which removes the n^1.5 full-corpus-training term that kept
      // isolated sf1 CPU at x14. The multiplier hash reduces vec_id
      // mod 250 BEFORE multiplying — (v*C) % 250 == ((v%250)*C) % 250,
      // and the reduced product is <= 249*C, so the arithmetic can
      // never overflow BIGINT at any corpus size (an unreduced product
      // wraps negative in Spark past vec_id ~3.5e9 and errors in
      // DuckDB); the oracle replays the identical reduced form.
      val samp = e.crossJoin(broadcast(kDf))
        .filter((col("vec_id") % 250) * lit(2654435761L) % 250 < 64 ||
          col("vec_id") < col("k"))
        .select("vec_id", "e").pinned()
      // coarse quantizer: m seeds, one Lloyd mean round — m = sqrt(k)
      // stays broadcast-sized at any corpus (k = n/250 does not)
      val cc0 = e.crossJoin(broadcast(kDf)).filter(col("vec_id") < col("cm"))
        .select(col("vec_id").as("ccl"), quant(col("e")).as("ccent"))
      val ca1 = samp.join(broadcast(cc0))
        .select(col("vec_id"), col("ccl"), sqDist(col("e"), col("ccent")).as("dist"))
        .groupBy("vec_id")
        .agg(min_by(col("ccl"), struct(col("dist"), col("ccl"))).as("ccl"))
      val cc1 = ca1.join(e, "vec_id").groupBy("ccl")
        .agg(call_udf("vec_mean", col("e")).as("m"))
        .select(col("ccl"), quant(col("m")).as("ccent"))
        .pinned()
      // top-2 probed coarse cells per point: the rn <= 2 filter plans as
      // a WindowGroupLimit, so only ~2 rows per point survive the
      // exchange (never the full n·m distance table)
      val probe = e.join(broadcast(cc1))
        .select(col("vec_id"), col("ccl"), sqDist(col("e"), col("ccent")).as("dist"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("vec_id").orderBy(col("dist"), col("ccl"))))
        .filter(col("rn") <= 2).select("vec_id", "ccl")
        .pinned()
      val c0 = e.crossJoin(broadcast(kDf)).filter(col("vec_id") < col("k"))
        .select(col("vec_id").as("cl"), quant(col("e")).as("cent"))
      // probed assignment: fine centroids home to their nearest coarse
      // cell; exact distances only where point-probe and centroid-home
      // meet, via a SHUFFLE join on the coarse cell (no k-row
      // broadcast). `pts` is the point set being assigned: the training
      // SAMPLE for the Lloyd rounds, the full corpus only for the one
      // final pass.
      def assign(cents: DataFrame, pts: DataFrame): DataFrame = {
        val h = cents.join(broadcast(cc1))
          .select(col("cl"), col("ccl"), sqDist(col("cent"), col("ccent")).as("dist"))
          .groupBy("cl")
          .agg(min_by(col("ccl"), struct(col("dist"), col("ccl"))).as("ccl"))
        val centsH = cents.join(h, "cl")
        // amain feeds both the union and the uncovered anti-join —
        // materialize the (vec_id, cl) rows once (n small rows)
        val amain = probe.join(pts, "vec_id").join(centsH, "ccl")
          .select(col("vec_id"), col("cl"), sqDist(col("e"), col("cent")).as("dist"))
          .groupBy("vec_id")
          .agg(min_by(col("cl"), struct(col("dist"), col("cl"))).as("cl"))
          .pinned()
        val uncovered = pts.join(amain, Seq("vec_id"), "left_anti")
        val afall = cents.crossJoin(broadcast(uncovered))
          .select(col("vec_id"), col("cl"), sqDist(col("e"), col("cent")).as("dist"))
          .groupBy("vec_id")
          .agg(min_by(col("cl"), struct(col("dist"), col("cl"))).as("cl"))
        amain.unionByName(afall)
      }
      def means(assigned: DataFrame): DataFrame = assigned.join(e, "vec_id")
        .groupBy("cl")
        .agg(call_udf("vec_mean", col("e")).as("m"))
        .select(col("cl"), quant(col("m")).as("cent"))
      val c1 = means(assign(c0, samp)).pinned()
      val c2 = means(assign(c1, samp)).pinned()
      val cells = assign(c2, e)
      val n = cells.join(e, "vec_id").select(col("vec_id"), col("cl"), col("e"),
        sqrt(aggregate(col("e"), lit(0.0d), (acc, x) => acc + x * x)).as("nrm"))
      val a = n.select(col("cl"), col("vec_id").as("ia"), col("e").as("ea"), col("nrm").as("na"))
      val b = n.select(col("cl"), col("vec_id").as("ib"), col("e").as("eb"), col("nrm").as("nb"))
      a.join(b, Seq("cl")).filter(col("ib") < col("ia"))
        .select(col("ia"), col("ib"),
          (aggregate(zip_with(col("ea"), col("eb"), (x, y) => x * y), lit(0.0d),
            (acc, x) => acc + x) / (col("na") * col("nb"))).as("cs"))
        .filter(col("cs") >= 0.35)
        .groupBy("ia")
        .agg(min("ib").as("dup_of"), count(lit(1)).as("n_dup_neighbors"))
        .withColumnRenamed("ia", "vec_id")
    },

    // CCNet-style per-paragraph LM bucketing (Wenzek et al. 2020): each
    // 15-word paragraph scored by unigram-LM surprise (the exact
    // perplexity proxy of llm_surprise, paragraph granularity), then
    // split into head/middle/tail TERCILES of the corpus distribution —
    // the quality gate CCNet uses before training-set selection. The
    // tercile thresholds are EXACT order statistics selected by a
    // COUNT-BASED 16-ARY BISECT on the 6dp-rounded surprise domain:
    // each pass is ONE linear aggregate computing count(surprise <= m)
    // at 15 evenly-spaced probe points per tercile (both terciles share
    // every pass — 30 conditional counts in one codegen'd scan), the
    // interval shrinks 16x per pass until it isolates a single grid
    // value (~6 passes for a 30-nat range), and one final max() pass
    // pins the value — bounded driver state, never a single-partition
    // exchange or an n/3-row TopK materialization (the previous
    // orderBy().limit(n/3) funneled a third of the corpus into ONE
    // task). Bucket assignment is then map-side against two broadcast
    // scalars. The oracle keeps the naive LIMIT form: both select the
    // identical kth-smallest surprise, so buckets agree.
    Q("llm_ccnet_buckets",
      """WITH toks0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |para AS (SELECT doc_id, unnest([{'pidx': i, 'ws': w[(i-1)*15+1:(i-1)*15+15]}
        |          for i in generate_series(1, (len(w)+14)//15)], recursive := true)
        |        FROM toks0),
        |pt AS (SELECT doc_id, pidx, unnest(ws) AS term FROM para),
        |ptn AS (SELECT * FROM pt WHERE term <> ''),
        |vocab AS (SELECT term, count(*)::BIGINT AS cnt FROM ptn GROUP BY 1),
        |tot AS (SELECT count(*)::BIGINT AS t FROM ptn),
        |scored AS (SELECT doc_id, pidx, count(*)::BIGINT AS n_tokens,
        |            round(-sum(ln(cnt::DOUBLE / t)) / count(*), 6) AS surprise
        |           FROM ptn JOIN vocab USING (term) CROSS JOIN tot GROUP BY doc_id, pidx),
        |n AS (SELECT count(*)::BIGINT AS c FROM scored),
        |t1 AS (SELECT max(surprise) AS v FROM
        |        (SELECT surprise FROM scored ORDER BY surprise, doc_id, pidx
        |         LIMIT (SELECT c // 3 FROM n))),
        |t2 AS (SELECT max(surprise) AS v FROM
        |        (SELECT surprise FROM scored ORDER BY surprise, doc_id, pidx
        |         LIMIT (SELECT 2 * c // 3 FROM n)))
        |SELECT doc_id, pidx, n_tokens, surprise,
        |  CASE WHEN surprise <= t1.v THEN 'head'
        |       WHEN surprise <= t2.v THEN 'middle' ELSE 'tail' END AS bucket
        |FROM scored, t1, t2""".stripMargin) { (s, _) =>
      val scored = ccnetScored(s)
      val sp = scored.persist()
      try {
      val n = sp.count()
      val (k1, k2) = (n / 3, 2 * n / 3)
      // Exact kth-smallest surprise by bisection: invariant
      // count(<= lo) < k <= count(<= hi); distinct 6dp-rounded values
      // are >= ~1e-6 apart, so once hi - lo <= 5e-7 the interval holds
      // exactly one value — pinned by one max() pass. k = 0 (corpora
      // with < 3 paragraphs) short-circuits to -inf: no row passes
      // surprise <= -inf, matching the oracle's LIMIT-0 NULL threshold.
      val (t1, t2) =
        if (n == 0L) (Double.NegativeInfinity, Double.NegativeInfinity)
        else {
          val eps = 5e-7
          // r16: Fan 16 -> 64. Each pass is one linear scan of the cached
          // scores whatever the fan, so a wider fan trades a few cheap
          // codegen'd comparisons per row for fewer sequential passes
          // (log_Fan(range/eps): ~6 passes at 16, ~4 at 64) — the loop is
          // wall-bound on pass count, not on per-row compare cost.
          val Fan = 64 // 63 interior probes per tercile per pass
          val mm = sp.agg(min("surprise"), max("surprise")).collect()(0)
          val (lo0, hi0) = (mm.getDouble(0) - 1e-6, mm.getDouble(1))
          var (lo1, hi1) = (lo0, hi0)
          var (lo2, hi2) = (lo0, hi0)
          def open(lo: Double, hi: Double, k: Long) = k > 0L && hi - lo > eps
          def mids(lo: Double, hi: Double): Seq[Double] =
            (1 until Fan).map(i => lo + (hi - lo) * i / Fan)
          while (open(lo1, hi1, k1) || open(lo2, hi2, k2)) {
            val m1 = mids(lo1, hi1)
            val m2 = mids(lo2, hi2)
            val probes = m1 ++ m2
            val r = sp.agg(
              count(when(col("surprise") <= probes.head, 1)),
              probes.tail.map(m => count(when(col("surprise") <= m, 1))): _*).collect()(0)
            val c = probes.indices.map(r.getLong)
            def step(lo: Double, hi: Double, ms: Seq[Double], cs: Seq[Long], k: Long) = {
              // smallest probe with count >= k bounds the kth from above;
              // its predecessor (or lo) bounds it from below
              val i = cs.indexWhere(_ >= k)
              if (i < 0) (ms.last, hi)
              else (if (i == 0) lo else ms(i - 1), ms(i))
            }
            if (open(lo1, hi1, k1)) {
              val (l, h) = step(lo1, hi1, m1, c.take(Fan - 1), k1); lo1 = l; hi1 = h
            }
            if (open(lo2, hi2, k2)) {
              val (l, h) = step(lo2, hi2, m2, c.drop(Fan - 1), k2); lo2 = l; hi2 = h
            }
          }
          def pin(lo: Double, hi: Double) =
            max(when(col("surprise") > lo && col("surprise") <= hi, col("surprise")))
          if (k1 == 0L && k2 == 0L) (Double.NegativeInfinity, Double.NegativeInfinity)
          else {
            val f = sp.agg(pin(lo1, hi1).as("t1"), pin(lo2, hi2).as("t2")).collect()(0)
            (if (k1 == 0L) Double.NegativeInfinity else f.getDouble(0),
              if (k2 == 0L) Double.NegativeInfinity else f.getDouble(1))
          }
        }
      // bucket map-side off the cached scores, copy the result out of
      // the cache (localCheckpoint: eager, GC-reclaimed); the finally
      // releases the scored cache on success AND on any mid-bisect
      // failure — the returned plan neither recomputes the scoring
      // pipeline nor leaves a session-lifetime cache entry
      sp.withColumn("bucket",
        when(col("surprise") <= t1, "head")
          .when(col("surprise") <= t2, "middle").otherwise("tail"))
        .pinned()
      } finally sp.unpersist()
    },

    // Johnson-Lindenstrauss random projection (Achlioptas 2003 ±1
    // variant): 64-dim embeddings down to 16 dims with a PSEUDORANDOM
    // sign matrix derived from a quadratic Lehmer hash of the flat
    // index k = i*16+j (k²·48271 mod 65521, low bit — spec-checked
    // near-orthogonal: max inter-column |dot| 22 of 64, random-like) —
    // no stored matrix, no randomness source, so both engines and any
    // cluster size regenerate identical signs. y_j = sum_i e[i]*s(i,j) / 4
    // (sqrt(16)), folded in index order in BOTH engines for
    // bit-identical IEEE sums. Map-side only — ZERO exchanges
    // (spec-pinned): the dimensionality-reduction pre-step that makes
    // downstream clustering/ANN shuffles 4x narrower at 100 TB.
    Q("llm_random_projection", {
      val dims = (0 until 16).map { j =>
        val k = s"(i * 16 + $j)"
        s"round(list_sum(list_transform(range(0, 64), i -> e[i+1] * " +
          s"($k * $k * 48271 % 65521 % 2 * 2 - 1))) / 4.0, 6) AS y$j"
      }
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |           FROM embeddings)
         |SELECT vec_id,
         |${dims.mkString(",\n")}
         |FROM v""".stripMargin
    }) { (s, _) =>
      val cols = (0 until 16).map { j =>
        round(
          aggregate(sequence(lit(0L), lit(63L)), lit(0.0d), (acc, i) => {
            val k = i * lit(16L) + lit(j.toLong)
            acc + element_at(col("e"), (i + lit(1L)).cast("int")) *
              ((k * k * lit(48271L)) % lit(65521L) % lit(2L) * lit(2L) - lit(1L)).cast("double")
          }) / lit(4.0d),
          6).as(s"y$j")
      }
      vecs(s).select(col("vec_id") +: cols: _*)
    },

    // Containment (quote) detection — the ASYMMETRIC dedup signal
    // Jaccard misses: C(A, B) = |shingles(A) ∩ shingles(B)| / |shingles(A)|
    // finds a short snippet embedded in a long document even though
    // their symmetric Jaccard is tiny (Broder's containment, the
    // quote/boilerplate case every web corpus hits). Fixture: each
    // snippet is the first 16 words of a deterministically chosen
    // source document ((id*7+3) mod N), so its shingle set is contained
    // in the source by construction; the engine must rediscover the
    // source as the best match. Scale shape: snippet/document shingles
    // join on the 8-byte shingle hash (df-capped in production exactly
    // like llm_dedup_ngram_jaccard), overlap agg keyed (snip, doc),
    // one snippet-bounded window for best/second-best. The oracle
    // replays string shingles, so hash defects break pair structure.
    Q("llm_dedup_containment",
      """WITH ncnt AS (SELECT count(*)::BIGINT AS c FROM documents),
        |docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |snipsrc AS (SELECT d.doc_id AS snip_id, (d.doc_id * 7 + 3) % c AS src
        |  FROM documents d, ncnt),
        |stoks AS (SELECT snip_id, src, dd.w[1:16] AS sw
        |  FROM snipsrc JOIN docs dd ON dd.doc_id = src),
        |ssh AS (SELECT snip_id, src, unnest(list_distinct(
        |    [array_to_string(sw[i:i+4], '_') for i in generate_series(1, len(sw)-4)])) AS sh
        |  FROM stoks),
        |ssize AS (SELECT snip_id, count(*) AS sz FROM ssh GROUP BY snip_id),
        |dsh AS (SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(w[i:i+4], '_') for i in generate_series(1, len(w)-4)])) AS sh
        |  FROM docs),
        |ov AS (SELECT snip_id, src, doc_id, count(*) AS ovl
        |  FROM ssh JOIN dsh USING (sh) GROUP BY 1, 2, 3),
        |sc AS (SELECT snip_id, src, doc_id, ovl * 1.0 / sz AS cont
        |  FROM ov JOIN ssize USING (snip_id)),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY snip_id
        |    ORDER BY cont DESC, doc_id) AS rn,
        |  count(*) OVER (PARTITION BY snip_id) AS nc FROM sc)
        |SELECT snip_id, CAST(max(nc) AS BIGINT) AS n_candidates,
        |  max(CASE WHEN rn = 1 THEN doc_id END) AS best_doc,
        |  round(max(CASE WHEN rn = 1 THEN cont END), 6) AS best_containment,
        |  round(coalesce(max(CASE WHEN rn = 2 THEN cont END), 0), 6) AS second_containment,
        |  max(CASE WHEN rn = 1 THEN doc_id END) = max(src) AS is_source
        |FROM rk GROUP BY snip_id""".stripMargin) { (s, _) =>
      import org.apache.spark.sql.expressions.Window
      // guard: sequence(1, 0) is the DESCENDING [1, 0] in Spark, so a
      // <5-word doc would slice at index 0 and crash (the hazard
      // ScalarFunctions.ngrams documents) — emit no shingles instead,
      // matching the oracle's empty generate_series
      def shingles(words: Column): Column = when(size(words) >= 5,
        array_distinct(transform(sequence(lit(1), size(words) - 4),
          i => xxhash64(array_join(slice(words, i, lit(5)), "_")))))
        .otherwise(array().cast("array<bigint>"))
      val ncnt = s.table("documents").agg(count(lit(1)).as("c"))
      val docs = s.table("documents")
        .select(col("doc_id"), split(col("text"), " ", -1).as("w"))
      val snipSrc = s.table("documents").select(col("doc_id").as("snip_id"))
        .crossJoin(broadcast(ncnt))
        .select(col("snip_id"), expr("(snip_id * 7 + 3) % c").as("src"))
      val ssh = snipSrc
        .join(docs.select(col("doc_id").as("src"), slice(col("w"), 1, 16).as("sw")), "src")
        .select(col("snip_id"), col("src"), explode(shingles(col("sw"))).as("sh"))
      val ssize = ssh.groupBy(col("snip_id").as("sid")).agg(count(lit(1)).as("sz"))
      val dsh = docs.select(col("doc_id"), explode(shingles(col("w"))).as("sh"))
      val ov = ssh.join(dsh, "sh")
        .groupBy("snip_id", "src", "doc_id").agg(count(lit(1)).as("ovl"))
      val sc = ov.join(ssize, col("snip_id") === col("sid"))
        .select(col("snip_id"), col("src"), col("doc_id"),
          (col("ovl") * lit(1.0) / col("sz")).as("cont"))
      val wS = Window.partitionBy("snip_id")
      val rk = sc
        .withColumn("rn", row_number().over(wS.orderBy(col("cont").desc, col("doc_id"))))
        .withColumn("nc", count(lit(1)).over(wS))
      rk.groupBy("snip_id").agg(
        max("nc").cast("long").as("n_candidates"),
        max(when(col("rn") === 1, col("doc_id"))).as("best_doc"),
        round(max(when(col("rn") === 1, col("cont"))), 6).as("best_containment"),
        round(coalesce(max(when(col("rn") === 2, col("cont"))), lit(0.0d)), 6)
          .as("second_containment"),
        (max(when(col("rn") === 1, col("doc_id"))) === max(col("src"))).as("is_source"))
    },

    // Link-graph PageRank (Page et al. 1999) — the host/URL authority
    // signal a crawl-curation pipeline feeds into quality weighting
    // (OPIC/harmonic-centrality role). Runs in FIXED-POINT INTEGER
    // arithmetic (rank mass scaled by 1e12, damping 85/100, uniform
    // out-degree 3, floor division everywhere): sums of integers are
    // exact and summation-order-independent, so the result is
    // bit-reproducible at ANY parallelism — no float-accumulation drift
    // between engines or between cluster sizes. The link graph is
    // synthesized deterministically from doc_id (same convention as
    // mm_image_dedup): doc -> (doc*31 + {8,15,22}) mod N. Per round:
    // the rank join reuses the edges' persisted src partitioning (the
    // rank side is the only thing that moves), then one dst-keyed agg —
    // the classic one-edge-shuffle-per-iteration shape; lineage
    // truncated by persist+count each round. 5 rounds.
    Q("llm_pagerank", {
      val rounds = (1 to 5).map { i =>
        s"""r$i AS (
           |  SELECT nd.doc_id,
           |         (150000000000 // nd.n + coalesce((85 * c.c) // 100, 0))::BIGINT AS r
           |  FROM nodes nd LEFT JOIN (
           |    SELECT dst, sum(r // 3)::BIGINT AS c
           |    FROM edges JOIN r${i - 1} ON src = doc_id GROUP BY 1) c
           |  ON c.dst = nd.doc_id)""".stripMargin
      }
      s"""WITH ncnt AS (SELECT count(*)::BIGINT AS n FROM documents),
         |nodes AS (SELECT doc_id, n FROM documents, ncnt),
         |edges AS (
         |  SELECT doc_id AS src, (doc_id * 31 + off) % n AS dst
         |  FROM nodes, (VALUES (8), (15), (22)) AS o(off)),
         |r0 AS (SELECT doc_id, (1000000000000 // n)::BIGINT AS r FROM nodes),
         |${rounds.mkString(",\n")}
         |SELECT doc_id, r AS pr FROM r5""".stripMargin
    }) { (s, _) =>
      val (nodes, edges) = pagerankGraph(s)
      var ranks = nodes.select(col("doc_id"), expr("1000000000000 div n").as("r")).persist()
      try {
        for (_ <- 1 to 5) {
          val next = pagerankRound(nodes, edges, ranks).persist()
          next.count()
          ranks.unpersist()
          ranks = next
        }
        // localCheckpoint copies the final iterate out of the cache so
        // the last loop frame can be unpersisted (no session-lifetime
        // cache residue) while the returned plan stays materialized.
        ranks.select(col("doc_id"), col("r").as("pr")).pinned()
      } finally {
        // covers mid-loop failure too (double-unpersist is a no-op)
        ranks.unpersist(); edges.unpersist(); nodes.unpersist()
      }
    },

    // Per-node triangle counting with DEGREE-ORDERED edge orientation
    // (Suri & Vassilvitskii, WWW'11 — "the curse of the last reducer"):
    // each undirected edge points from the lower-(degree, id) endpoint
    // to the higher, so every wedge is generated at its lowest-degree
    // vertex and per-node wedge fanout is bounded by O(sqrt(m)) — THE
    // trick that keeps hub vertices from exploding the self-join at
    // 100 TB (a naive shared-vertex join is quadratic in hub degree).
    // Graph: ring edges d -> d+{1,2,3} mod N (every consecutive triple
    // closes, so triangles exist at every node — the pagerank
    // generator's multiplier graph has none), densified at d%7 nodes
    // (extra +4/+5 edges -> locally varying counts), plus the
    // long-range hub edge d -> (d*31+8) mod N for degree skew, so the
    // orientation actually has work to do. Self-loops/dups dropped.
    // Plan: degree agg (node-sized, broadcasts), one wedge
    // self-join keyed on the wedge apex, one semi-join of (b, c)
    // candidates against oriented edges, one explode(3)+agg to
    // attribute each triangle to its corners. All-integer — exact at
    // any parallelism.
    // Kept as a hand plan: 1.5 s vs the text's 10.7 s at sf0.1 (mean of 2 warm runs).
    Q("llm_triangle_count", {
      """WITH ncnt AS (SELECT count(*)::BIGINT AS n FROM documents),
        |raw AS (
        |  SELECT doc_id AS src, (doc_id + off) % n AS dst
        |  FROM documents, ncnt, (VALUES (1), (2), (3)) AS o(off)
        |  UNION ALL
        |  SELECT doc_id, (doc_id + off) % n
        |  FROM documents, ncnt, (VALUES (4), (5)) AS o(off) WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id, (doc_id * 31 + 8) % n FROM documents, ncnt),
        |und AS (
        |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |  FROM raw WHERE src <> dst),
        |deg AS (
        |  SELECT node, count(*)::BIGINT AS d FROM (
        |    SELECT u AS node FROM und UNION ALL SELECT v FROM und) GROUP BY node),
        |ori AS (
        |  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS a,
        |         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS b
        |  FROM und e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v),
        |wedge AS (
        |  SELECT e1.a AS w, e1.b AS x, e2.b AS y
        |  FROM ori e1 JOIN ori e2 ON e1.a = e2.a AND e1.b < e2.b),
        |tri AS (
        |  SELECT w, x, y FROM wedge
        |  WHERE EXISTS (SELECT 1 FROM ori WHERE (a = x AND b = y) OR (a = y AND b = x))),
        |pernode AS (
        |  SELECT node, count(*)::BIGINT AS tc FROM (
        |    SELECT w AS node FROM tri UNION ALL SELECT x FROM tri
        |    UNION ALL SELECT y FROM tri) GROUP BY node)
        |SELECT d.doc_id, coalesce(tc, 0)::BIGINT AS n_triangles
        |FROM documents d LEFT JOIN pernode ON pernode.node = d.doc_id""".stripMargin
    }) { (s, _) =>
      val ncnt = s.table("documents").agg(count(lit(1)).as("n"))
      val docs = s.table("documents").select(col("doc_id")).crossJoin(broadcast(ncnt))
      val raw = docs
        .select(col("doc_id").as("src"),
          explode(array(lit(1L), lit(2L), lit(3L))).as("off"), col("n"))
        .select(col("src"), expr("(src + off) % n").as("dst"))
        .unionAll(docs.filter(col("doc_id") % 7 === 0)
          .select(col("doc_id").as("src"),
            explode(array(lit(4L), lit(5L))).as("off"), col("n"))
          .select(col("src"), expr("(src + off) % n").as("dst")))
        .unionAll(docs.select(col("doc_id").as("src"),
          expr("(doc_id * 31 + 8) % n").as("dst")))
      // und feeds deg (twice-projected) and ori; ori feeds the wedge
      // self-join and both closing orientations — materialize each once
      // (localCheckpoint: eager, lineage-truncated, reclaimed on GC)
      // instead of re-deriving the edge set per consumer.
      val und = raw.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .distinct().pinned()
      val deg = und.select(col("u").as("node"))
        .unionAll(und.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("d"))
      // deg is node-sized — small here, but O(|V|) grows past broadcast
      // range on billion-node graphs, so the annotation joins are plain
      // shuffle joins (the plan shape that survives any graph size).
      val du = deg.select(col("node").as("u"), col("d").as("du"))
      val dv = deg.select(col("node").as("v"), col("d").as("dv"))
      val uFirst = struct(col("du"), col("u")) < struct(col("dv"), col("v"))
      val ori = und.join(du, "u").join(dv, "v")
        .select(when(uFirst, col("u")).otherwise(col("v")).as("a"),
          when(uFirst, col("v")).otherwise(col("u")).as("b"))
        .pinned()
      val e2 = ori.select(col("a").as("a2"), col("b").as("y"))
      val wedge = ori.join(e2, col("a") === col("a2") && col("b") < col("y"))
        .select(col("a").as("w"), col("b").as("x"), col("y"))
      // closure check: the (x, y) side is degree-oriented but the wedge
      // pair is only id-ordered — probe both orientations
      val closing = ori.select(col("a").as("x"), col("b").as("y"))
        .unionAll(ori.select(col("b").as("x"), col("a").as("y")))
      val tri = wedge.join(closing, Seq("x", "y"), "left_semi")
      val perNode = tri.select(explode(array(col("w"), col("x"), col("y"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("tc"))
      s.table("documents").select(col("doc_id"))
        .join(perNode, col("doc_id") === col("node"), "left")
        .select(col("doc_id"), coalesce(col("tc"), lit(0L)).cast("long").as("n_triangles"))
    },

    // Community detection by synchronous label propagation (Raghavan et
    // al. 2007) — the other half of the graph toolkit next to
    // ConnectedComponents' min-label (LPA converges to DENSITY
    // communities, CC to reachability classes): 3 rounds over the
    // symmetrized link graph; every node adopts the most frequent label
    // among its neighbors, ties to the SMALLEST label (deterministic —
    // asynchronous/random-order LPA would never cross engines). Both
    // engines run the same text, the 3 rounds unrolled as CTEs. Per
    // round: one edge join + one (node, label) count agg + one argmax
    // window — keyed shuffles, all integers, bit-reproducible at any
    // parallelism. (A hand plan that persisted each round ran twice as
    // slow at sf0.1.)
    Q.sameSql("llm_label_propagation", {
      val rounds = (1 to 3).map { i =>
        s"""l$i AS (
           |  SELECT node, label FROM (
           |    SELECT e.dst AS node, l.label, count(*) AS c,
           |      row_number() OVER (PARTITION BY e.dst ORDER BY count(*) DESC, l.label) AS rn
           |    FROM sym e JOIN l${i - 1} l ON l.node = e.src
           |    GROUP BY e.dst, l.label) t
           |  WHERE rn = 1)""".stripMargin
      }
      s"""WITH ncnt AS (SELECT count(*)::BIGINT AS n FROM documents),
         |raw AS (
         |  SELECT doc_id AS src, (doc_id * 31 + off) % n AS dst
         |  FROM documents, ncnt, (VALUES (8), (15), (22)) AS o(off)),
         |sym AS (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT src, dst FROM raw UNION ALL SELECT dst, src FROM raw)
         |  WHERE src <> dst),
         |l0 AS (SELECT doc_id AS node, doc_id AS label FROM documents),
         |${rounds.mkString(",\n")}
         |SELECT node AS doc_id, label AS community FROM l3""".stripMargin
    }),

    // Blocklist phrase filtering (RefinedWeb / C4-style word+phrase
    // blocklists, Penedo et al. 2023 / Raffel et al. 2020): count every
    // occurrence (all start positions, overlapping included) of every
    // blocklist phrase in one Aho-Corasick automaton pass per document
    // (functions/TextScanExpressions.scala) — O(|text|) regardless of
    // blocklist size, where the oracle's naive form (and a LIKE-any
    // plan, reference operator/scalar/LikeFunctions.java one pattern at
    // a time) is O(|text| x |patterns|). Map-only: the plan has ZERO
    // exchanges — per-doc verdicts come straight off the scan, which is
    // the only shape that survives a blocklist of thousands of phrases
    // against a 100 TB crawl.
    Q("llm_blocklist_filter", {
      val patsSql = BLOCKLIST.map(p => s"'$p'").mkString(", ")
      s"""WITH pats AS (SELECT unnest([$patsSql]) AS p),
         |m AS (
         |  SELECT d.doc_id, pats.p,
         |    len([i for i in generate_series(1, len(d.text) - len(pats.p) + 1)
         |         if substr(d.text, i, len(pats.p)) = pats.p]) AS cnt
         |  FROM documents d CROSS JOIN pats),
         |mx AS (SELECT doc_id, max(cnt) AS mc FROM m GROUP BY 1)
         |SELECT m.doc_id,
         |  CAST(sum(cnt) AS BIGINT) AS n_matches,
         |  CAST(count(*) FILTER (WHERE cnt > 0) AS BIGINT) AS n_patterns,
         |  CASE WHEN mx.mc > 0 THEN min(p) FILTER (WHERE cnt = mx.mc) END AS top_pattern,
         |  (sum(cnt) >= 8) AS flagged
         |FROM m JOIN mx USING (doc_id) GROUP BY m.doc_id, mx.mc""".stripMargin
    }) { (s, _) =>
      val patLit = array(BLOCKLIST.map(lit): _*)
      s.table("documents")
        .select(col("doc_id"),
          call_udf("blocklist_counts", col("text"), patLit).as("cnts"))
        .select(col("doc_id"), col("cnts"),
          aggregate(col("cnts"), lit(0L), (a, x) => a + x).as("n_matches"),
          size(filter(col("cnts"), x => x > lit(0L))).cast("long").as("n_patterns"))
        // patterns are sorted ascending, so first-index-at-max ==
        // lexicographically-smallest max pattern (= oracle's min(p))
        .withColumn("top_pattern", when(array_max(col("cnts")) > 0,
          element_at(patLit, array_position(col("cnts"), array_max(col("cnts"))).cast("int"))))
        .withColumn("flagged", col("n_matches") >= 8)
        .drop("cnts")
    },

    // Character-entropy quality signal (Gopher/DCLM-family filters, Rae
    // et al. 2021): per-document Shannon entropy over the code-point
    // histogram, one native-expression pass (char_stats), map-only with
    // zero exchanges. Low entropy flags padding/boilerplate/junk pages;
    // at 100 TB this runs inside the very first scan so nothing else
    // ever reads the dropped bytes.
    Q("llm_char_entropy",
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents),
        |h AS (SELECT doc_id, c, CAST(count(*) AS DOUBLE) AS k FROM ch GROUP BY 1, 2),
        |n AS (SELECT doc_id, sum(k) AS n FROM h GROUP BY 1)
        |SELECT h.doc_id,
        |  CAST(n.n AS BIGINT) AS n_chars,
        |  CAST(count(*) AS BIGINT) AS distinct_chars,
        |  round(-sum((k / n.n) * ln(k / n.n)), 6) AS entropy
        |FROM h JOIN n ON h.doc_id = n.doc_id
        |GROUP BY h.doc_id, n.n""".stripMargin) { (s, _) =>
      s.table("documents")
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
          call_udf("char_stats", col("text")).as("cs"))
        .select(col("doc_id"), col("n_chars"),
          col("cs.distinct_chars").cast("long").as("distinct_chars"),
          round(col("cs.entropy"), 6).as("entropy"))
    },

    // N-gram novelty (diversity / memorization-risk scoring, the
    // corpus-frequency dual of llm_repetition_signals' intra-doc view;
    // cf. Lee et al. 2022): fraction of a document's DISTINCT 5-gram
    // shingles that appear in no other position of the corpus (df = 1).
    // Two linear shuffles (gram-keyed df agg, doc-keyed reduce); the
    // gram-df join is co-partitioned with the agg that produced it.
    // The SHUFFLE KEY is the 8-byte xxhash64 of the gram — the house
    // convention every other dedup-family op uses (substring spans,
    // paragraph dedup, C4 spans): ~6x fewer bytes on both exchanges
    // than the ~40-60-byte raw 5-gram strings for the same grouping.
    // The oracle groups by the raw string; outputs agree because the
    // hash is a collision-free relabeling at any realistic corpus
    // (64-bit birthday bound ~n²/2^65 — and a collision only merges
    // two grams' df counts, never crashes).
    Q("llm_ngram_novelty",
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+4], '_') AS s
        |       FROM toks, unnest(generate_series(1, len(w) - 4)) t(i)
        |       WHERE len(w) >= 5),
        |d AS (SELECT s, count(*) AS df FROM sh GROUP BY 1)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_shingles,
        |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  round(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
        |    AS novelty
        |FROM sh JOIN d USING (s) GROUP BY doc_id""".stripMargin) { (s, _) =>
      val w = split(col("text"), " ")
      val sh = s.table("documents")
        .select(col("doc_id"), w.as("w"))
        .filter(size(col("w")) >= 5)
        .select(col("doc_id"), explode(array_distinct(
          transform(sequence(lit(1), size(col("w")) - lit(4)),
            i => xxhash64(concat_ws("_", slice(col("w"), i, lit(5))))))).as("s"))
      val df = sh.groupBy("s").agg(count(lit(1)).as("df"))
      sh.join(df, "s")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
        .withColumn("novelty",
          round(col("n_novel").cast("double") / col("n_shingles"), 6))
    },

    // Model-based quality classifier (the GPT-3/LLaMA/DCLM selection
    // pattern — Brown et al. 2020 appendix A, Joulin et al. 2017: train
    // a cheap linear classifier on weak labels, score the whole corpus,
    // select by score): class-weighted logistic regression DISTILLING
    // the Gopher rule battery (weak label = llm_quality_gopher's keep,
    // same fixture arithmetic) from four summary features. Training is
    // 6 full-batch GD rounds; after every round the weights are
    // quantized to 6 decimals with the repo's half-up formula — the
    // k-means convention — so Spark and DuckDB iterate on identical
    // weight bits and the oracle replays training EXACTLY (6 unrolled
    // CTE rounds). Engine plan: one persisted corpus-linear feature
    // frame, per round ONE codegen'd partial/final avg-agg (5 doubles
    // to the driver — bounded state), scoring is a map-side projection
    // off weight literals. Training runs on the SemDeDup-convention
    // DETERMINISTIC SAMPLE (hash-mod 64/250 of doc_id, the overflow-
    // safe reduced form (doc_id%250)*2654435761%250 < 64): the class
    // weight and every gradient average over ~26% of docs, which the
    // oracle replays bit-exactly off the same predicate — so at 100 TB
    // training is R linear scans of a SAMPLE-sized frame while the
    // scoring pass (one map-side projection) stays corpus-linear, the
    // same training/apply asymmetry fastText-style quality filters run
    // in production. Spec pins that the sample-trained model still
    // clears the full-batch model's quality bars (beats-majority,
    // recall/precision floors — unchanged from the full-batch round)
    // and that scores are invariant to the physical partition count.
    Q("llm_quality_classifier", {
      val q6 = (e: String) => s"floor(($e)*1000000 + 0.5)/1000000"
      val rounds = (1 to 6).map { r =>
        val prev = if (r == 1) "w0" else s"w${r - 1}"
        s"""g$r AS (SELECT avg(d) g0, avg(d*x1) g1, avg(d*x2) g2, avg(d*x3) g3, avg(d*x4) g4
           |  FROM (SELECT ((1.0/(1.0+exp(-(b + c1*x1 + c2*x2 + c3*x3 + c4*x4)))) - y)
           |          * (CASE WHEN y = 1.0 THEN wpos ELSE 1.0 END) AS d, x1, x2, x3, x4
           |        FROM fs CROSS JOIN $prev CROSS JOIN cw)),
           |w$r AS (SELECT ${q6(s"b - 4.0*g0")} AS b, ${q6(s"c1 - 4.0*g1")} AS c1,
           |  ${q6(s"c2 - 4.0*g2")} AS c2, ${q6(s"c3 - 4.0*g3")} AS c3,
           |  ${q6(s"c4 - 4.0*g4")} AS c4 FROM $prev CROSS JOIN g$r)""".stripMargin
      }.mkString(",\n")
      s"""WITH noisy AS (SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 0 THEN repeat('- bullet item' || chr(10), 10) ELSE '' END
         |    || text
         |    || CASE WHEN doc_id % 3 = 0 THEN ' of and that with' ELSE '' END
         |    || CASE WHEN doc_id % 5 = 0 THEN repeat(' #', 8) ELSE '' END
         |    || CASE WHEN doc_id % 13 = 0 THEN repeat(' 12345', 20) ELSE '' END
         |    || CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'to be continued...' || chr(10) || 'more...' ELSE '' END AS t
         |  FROM documents),
         |m AS (SELECT doc_id, t, string_split_regex(t, '\\s+') AS w,
         |             string_split(t, chr(10)) AS lines FROM noisy),
         |f AS (SELECT doc_id,
         |    CAST(least(len(w), 300) AS DOUBLE)/300.0 AS x1,
         |    CAST(length(regexp_replace(t, '\\s+', '', 'g')) AS DOUBLE)/len(w)/10.0 AS x2,
         |    5.0*(length(t) - length(replace(t, '#', ''))
         |         + len(regexp_extract_all(t, '\\.\\.\\.')))/len(w) AS x3,
         |    len(list_distinct(list_filter(w, x -> x IN ('the','be','to','of','and','that','have','with'))))/8.0 AS x4,
         |    CASE WHEN (len(w) BETWEEN 50 AND 100000)
         |      AND (CAST(length(regexp_replace(t, '\\s+', '', 'g')) AS DOUBLE)/len(w) BETWEEN 3 AND 10)
         |      AND ((length(t) - length(replace(t, '#', ''))
         |            + len(regexp_extract_all(t, '\\.\\.\\.')))*1.0/len(w)) <= 0.1
         |      AND (len(list_filter(lines, l -> starts_with(l, '- ') OR starts_with(l, '* ')))*1.0/len(lines)) <= 0.9
         |      AND (len(list_filter(lines, l -> ends_with(l, '...')))*1.0/len(lines)) <= 0.3
         |      AND (len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))*1.0/len(w)) >= 0.8
         |      AND len(list_distinct(list_filter(w, x -> x IN ('the','be','to','of','and','that','have','with')))) >= 2
         |    THEN 1.0 ELSE 0.0 END AS y
         |  FROM m),
         |fs AS (SELECT * FROM f WHERE (doc_id % 250) * 2654435761 % 250 < 64),
         |cw AS (SELECT ${q6("sum(1.0 - y) / sum(y)")} AS wpos FROM fs),
         |w0 AS (SELECT 0.0 AS b, 0.0 AS c1, 0.0 AS c2, 0.0 AS c3, 0.0 AS c4),
         |$rounds
         |SELECT doc_id, round(sig, 6) AS score, round(sig, 6) >= 0.5 AS selected,
         |  CAST(y AS BIGINT) AS label
         |FROM (SELECT doc_id, y,
         |        1.0/(1.0+exp(-(b + c1*x1 + c2*x2 + c3*x3 + c4*x4))) AS sig
         |      FROM f CROSS JOIN w6)""".stripMargin
    }) { (s, _) =>
      def qd(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
      val stop = Seq("the", "be", "to", "of", "and", "that", "have", "with")
      val t = concat(
        when(col("doc_id") % 7 === 0, lit("- bullet item\n" * 10)).otherwise(""),
        col("text"),
        when(col("doc_id") % 3 === 0, lit(" of and that with")).otherwise(""),
        when(col("doc_id") % 5 === 0, lit(" #" * 8)).otherwise(""),
        when(col("doc_id") % 13 === 0, lit(" 12345" * 20)).otherwise(""),
        when(col("doc_id") % 11 === 0, lit("\nto be continued...\nmore...")).otherwise(""))
      val base = s.table("documents").select(col("doc_id"), t.as("t"),
        split(t, "\\s+").as("w"), split(t, "\n", -1).as("lines"))
      val nWords = size(col("w"))
      val meanWl = length(regexp_replace(col("t"), "\\s+", "")).cast("double") / nWords
      val symCnt = length(col("t")) - length(translate(col("t"), "#", "")) +
        regexp_count(col("t"), lit("\\.\\.\\."))
      val bulletFrac = size(filter(col("lines"),
        l => l.startsWith("- ") || l.startsWith("* "))) * lit(1.0) / size(col("lines"))
      val ellipsisFrac = size(filter(col("lines"), l => l.endsWith("..."))) * lit(1.0) /
        size(col("lines"))
      val alphaFrac = size(filter(col("w"), x => x.rlike("[A-Za-z]"))) * lit(1.0) / nWords
      val nStop = size(array_distinct(filter(col("w"), x => x.isInCollection(stop))))
      val keep = nWords.between(50, 100000) && meanWl.between(3, 10) &&
        (symCnt * lit(1.0) / nWords) <= 0.1 && bulletFrac <= 0.9 &&
        ellipsisFrac <= 0.3 && alphaFrac >= 0.8 && nStop >= 2
      val feats = base.select(col("doc_id"),
        (least(nWords, lit(300)).cast("double") / lit(300.0)).as("x1"),
        (meanWl / lit(10.0)).as("x2"),
        (lit(5.0) * symCnt / nWords).as("x3"),
        (nStop / lit(8.0)).as("x4"),
        when(keep, lit(1.0)).otherwise(lit(0.0)).as("y")).persist()
      // deterministic training sample (SemDeDup hash-mod convention;
      // reduced-before-multiply form can never overflow BIGINT)
      val samp = feats
        .filter((col("doc_id") % 250) * lit(2654435761L) % 250 < 64).persist()
      try {
        val tot = samp.agg(sum(col("y")), count(lit(1))).head()
        val np = tot.getDouble(0)
        val wpos = qd((tot.getLong(1) - np) / np)
        var w = Array(0.0, 0.0, 0.0, 0.0, 0.0)
        for (_ <- 1 to 6) {
          val z = lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2") +
            lit(w(3)) * col("x3") + lit(w(4)) * col("x4")
          val d = ((lit(1.0) / (lit(1.0) + exp(-z))) - col("y")) *
            when(col("y") === 1.0, lit(wpos)).otherwise(lit(1.0))
          val g = samp.agg(avg(d), avg(d * col("x1")), avg(d * col("x2")),
            avg(d * col("x3")), avg(d * col("x4"))).head()
          w = Array.tabulate(5)(j => qd(w(j) - 4.0 * g.getDouble(j)))
        }
        val z = lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2") +
          lit(w(3)) * col("x3") + lit(w(4)) * col("x4")
        val sig = lit(1.0) / (lit(1.0) + exp(-z))
        feats.select(col("doc_id"), round(sig, 6).as("score"),
          (round(sig, 6) >= 0.5).as("selected"), col("y").cast("long").as("label"))
          .pinned()
      } finally { samp.unpersist(); feats.unpersist() }
    }
  )

  /** Phrase blocklist for llm_blocklist_filter — sorted ascending so the
    * engine's first-index-at-max tie-break equals the oracle's min(p).
    * Includes a pattern that is a prefix of another ("table" /
    * "table table") to exercise the automaton's output chains, and one
    * that never matches ("zz top").
    */
  private val BLOCKLIST: Seq[String] = Seq(
    "a a", "batch batch", "big table", "order scan", "scan slow",
    "slow filter", "spark", "table", "table table", "the line",
    "value table", "zz top").sorted
}
