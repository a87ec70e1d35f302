package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar function surface (SURVEY §2.9): string, math, datetime, array,
  * map, JSON, regex, hash/binary, bitwise, conditional/TRY, URL, and the
  * custom functions (word_stem, normalize, to/from_base, ieee754, hmac).
  *
  * Reference: operator/scalar/StringFunctions.java, MathFunctions.java,
  * DateTimeFunctions.java, the Array/Map/Json function classes,
  * VarbinaryFunctions.java, BitwiseFunctions.java, UrlFunctions.java,
  * TryFunction.java.
  *
  * Functions with engine-specific outputs that DuckDB cannot recompute
  * (custom UDFs) are verified against published vectors / definitional
  * literals in the oracle.
  */
object FuncQueries extends QueryModule {

  def queries: Seq[Q] = Seq(

    Q("func_string",
      """SELECT p_partkey,
        |  length(p_name) AS name_len,
        |  upper(p_name) AS up,
        |  lower(p_brand) AS lo,
        |  substr(p_name, 3, 5) AS sub3,
        |  lpad(p_brand, 12, '*') AS padded,
        |  rpad(p_brand, 12, '.') AS rpadded,
        |  replace(p_name, ' ', '_') AS underscored,
        |  reverse(p_type) AS rev,
        |  concat(p_brand, ':', p_type) AS brand_type,
        |  split_part(p_name, ' ', 2) AS second_word,
        |  instr(p_name, 'a') AS a_pos,
        |  levenshtein(p_brand, 'Brand#25') AS lev,
        |  trim(concat(' ', p_type, ' ')) AS trimmed,
        |  p_name LIKE '%a%' AS has_a
        |FROM part""".stripMargin) { (s, _) =>
      s.table("part").select(col("p_partkey"),
        length(col("p_name")).as("name_len"),
        upper(col("p_name")).as("up"),
        lower(col("p_brand")).as("lo"),
        substring(col("p_name"), 3, 5).as("sub3"),
        lpad(col("p_brand"), 12, "*").as("padded"),
        rpad(col("p_brand"), 12, ".").as("rpadded"),
        regexp_replace(col("p_name"), " ", "_").as("underscored"),
        reverse(col("p_type")).as("rev"),
        concat(col("p_brand"), lit(":"), col("p_type")).as("brand_type"),
        split_part(col("p_name"), lit(" "), lit(2)).as("second_word"),
        instr(col("p_name"), "a").as("a_pos"),
        levenshtein(col("p_brand"), lit("Brand#25")).as("lev"),
        trim(concat(lit(" "), col("p_type"), lit(" "))).as("trimmed"),
        col("p_name").like("%a%").as("has_a"))
    },

    Q.sameSql("func_math",
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |  abs(l_discount - 0.05) AS abs_d,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_p,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS floor_p,
        |  round(l_extendedprice / 7.0, 3) AS round_q,
        |  sqrt(l_quantity) AS sqrt_q,
        |  exp(l_discount) AS exp_d,
        |  round(ln(l_extendedprice), 12) AS ln_p,
        |  round(log10(l_extendedprice), 12) AS log10_p,
        |  pow(l_quantity, 2) AS qty_sq,
        |  mod(l_orderkey, 7) AS mod7,
        |  CAST(sign(l_discount - 0.05) AS DOUBLE) AS sgn,
        |  sin(l_discount) AS sin_d,
        |  cos(l_discount) AS cos_d,
        |  round(atan2(l_quantity, 3.0), 12) AS at2,
        |  degrees(l_discount) AS deg,
        |  radians(l_quantity) AS rad,
        |  greatest(l_quantity, l_discount * 300) AS gr,
        |  least(l_quantity, l_discount * 300) AS ls
        |FROM lineitem WHERE l_orderkey <= 300""".stripMargin),

    Q("func_datetime",
      """SELECT o_orderkey,
        |  year(o_orderdate) AS y,
        |  month(o_orderdate) AS mo,
        |  day(o_orderdate) AS d,
        |  quarter(o_orderdate) AS q,
        |  dayofyear(o_orderdate) AS doy,
        |  dayofweek(o_orderdate) + 1 AS dow,
        |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
        |  o_orderdate + INTERVAL 7 DAY AS plus_week,
        |  date_diff('day', o_orderdate, TIMESTAMP '1998-01-01') AS days_to_98,
        |  CAST(last_day(o_orderdate) AS TIMESTAMP) AS eom,
        |  CAST(epoch(o_orderdate) AS BIGINT) AS unix_secs
        |FROM orders""".stripMargin) { (s, _) =>
      s.table("orders").select(col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("d"),
        quarter(col("o_orderdate")).as("q"),
        dayofyear(col("o_orderdate")).as("doy"),
        dayofweek(col("o_orderdate")).as("dow"), // Spark: 1=Sunday; DuckDB 0=Sunday (+1 in oracle)
        date_trunc("month", col("o_orderdate")).as("month_start"),
        (col("o_orderdate") + expr("INTERVAL 7 DAY")).as("plus_week"),
        datediff(lit("1998-01-01").cast("date"), col("o_orderdate")).as("days_to_98"),
        last_day(col("o_orderdate")).cast("timestamp").as("eom"),
        unix_timestamp(col("o_orderdate")).as("unix_secs"))
    },

    // Array elements surface as integer micro-units (x*1e6 rounded) joined
    // to CSV: the verifier's pandas bridge cannot sort ndarray columns and
    // float-to-string formats differ across engines; integers do not.
    Q("func_array",
      """SELECT vec_id,
        |  len(embedding) AS dim,
        |  embedding[1] AS first_elem,
        |  array_to_string(list_transform(embedding[1:3],
        |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)), ',') AS first3,
        |  list_aggregate(embedding, 'min') AS mn,
        |  list_aggregate(embedding, 'max') AS mx,
        |  round((SELECT sum(CAST(x AS DOUBLE)) FROM unnest(embedding) t(x)), 6) AS total,
        |  round((SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM unnest(embedding) t(x)), 6) AS sumsq,
        |  len(list_filter(embedding, x -> x > 0)) AS n_pos,
        |  list_contains(embedding, embedding[5]) AS has_5th,
        |  list_position(embedding, embedding[5]) AS pos_5th,
        |  embedding[-1] AS last_elem
        |FROM embeddings WHERE vec_id < 200""".stripMargin) { (s, _) =>
      s.table("embeddings").filter(col("vec_id") < 200).select(col("vec_id"),
        size(col("embedding")).as("dim"),
        element_at(col("embedding"), 1).as("first_elem"),
        array_join(transform(slice(col("embedding"), 1, 3),
          x => round(x.cast("double") * 1000000).cast("long").cast("string")), ",").as("first3"),
        array_min(col("embedding")).as("mn"),
        array_max(col("embedding")).as("mx"),
        round(aggregate(col("embedding"), lit(0.0d), (acc, x) => acc + x), 6).as("total"),
        round(aggregate(col("embedding"), lit(0.0d), (acc, x) => acc + x.cast("double") * x.cast("double")), 6).as("sumsq"),
        size(filter(col("embedding"), x => x > 0)).as("n_pos"),
        array_contains(col("embedding"), element_at(col("embedding"), 5)).as("has_5th"),
        array_position(col("embedding"), element_at(col("embedding"), 5)).cast("int").as("pos_5th"),
        element_at(col("embedding"), -1).as("last_elem"))
    },

    // Literal-input array algebra: Spark semantics frozen as expected
    // literals in the oracle (array_union keeps first-appearance order).
    // Arrays ship CSV-joined — the verifier cannot sort ndarray columns.
    Q("func_array_algebra",
      """SELECT '1,2,3' AS dist,
        |  '1,2,3,4' AS uni,
        |  '2,3' AS inter,
        |  '1' AS exc,
        |  '1-2-2-3' AS joined,
        |  '1,2,3,4' AS flat,
        |  '1,2,3,4,5' AS seq5,
        |  '7,7,7' AS rep3,
        |  '1,2,2,3' AS sorted_arr,
        |  true AS overlaps""".stripMargin) { (s, _) =>
      s.sql(
        """SELECT
          |  array_join(array_distinct(array(1,2,2,3)), ',') AS dist,
          |  array_join(array_union(array(1,2,2), array(3,4)), ',') AS uni,
          |  array_join(array_intersect(array(1,2,3), array(2,3,4)), ',') AS inter,
          |  array_join(array_except(array(1,2,3), array(2,3,4)), ',') AS exc,
          |  array_join(array(1,2,2,3), '-') AS joined,
          |  array_join(flatten(array(array(1,2), array(3,4))), ',') AS flat,
          |  array_join(sequence(1, 5), ',') AS seq5,
          |  array_join(array_repeat(7, 3), ',') AS rep3,
          |  array_join(sort_array(array(3,1,2,2)), ',') AS sorted_arr,
          |  arrays_overlap(array(1,2), array(2,9)) AS overlaps""".stripMargin)
    },

    // Map surface on literals; scalar outputs (map-typed output kept out
    // of the compare; subscript semantics differ — SURVEY §7.4 delta).
    Q("func_map",
      """SELECT 2 AS b_val, 3 AS n_keys, 'a,b,c' AS keys_joined, 12 AS b_plus10,
        |  6 AS vals_total, 1 AS n_big, 2 AS upper_b, 20 AS zipped_b""".stripMargin) { (s, _) =>
      s.sql(
        """SELECT
          |  element_at(m, 'b') AS b_val,
          |  cardinality(m) AS n_keys,
          |  array_join(map_keys(m), ',') AS keys_joined,
          |  element_at(transform_values(m, (k, v) -> v + 10), 'b') AS b_plus10,
          |  aggregate(map_values(m), 0, (acc, x) -> acc + x) AS vals_total,
          |  cardinality(map_filter(m, (k, v) -> v > 2)) AS n_big,
          |  element_at(transform_keys(m, (k, v) -> upper(k)), 'B') AS upper_b,
          |  element_at(map_zip_with(m, transform_values(m, (k, v) -> v * 9), (k, v1, v2) -> v1 + v2), 'b') AS zipped_b
          |FROM (SELECT map_from_entries(array(struct('a', 1), struct('b', 2), struct('c', 3))) AS m)""".stripMargin)
    },

    Q("func_json",
      """SELECT event_id,
        |  json_extract_string(props, '$.k') AS k_str,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS k_int,
        |  json_extract_string(props, '$.missing') AS missing_val
        |FROM events WHERE event_id < 500""".stripMargin) { (s, _) =>
      s.table("events").filter(col("event_id") < 500).select(col("event_id"),
        get_json_object(col("props"), "$.k").as("k_str"),
        get_json_object(col("props"), "$.k").cast("int").as("k_int"),
        get_json_object(col("props"), "$.missing").as("missing_val"))
    },

    // json_extract_scalar — JsonExtract.java:262 ScalarValueJsonExtractor:
    // containers (objects/arrays) and JSON null map to SQL NULL; scalars
    // surface unquoted. DuckDB's json_extract_string returns container
    // text, so the oracle states the expected literals directly.
    Q("func_json_scalar",
      """SELECT 'x' AS s_str, '7' AS s_num, CAST(NULL AS VARCHAR) AS s_obj,
        |  CAST(NULL AS VARCHAR) AS s_arr, '2' AS s_elem,
        |  CAST(NULL AS VARCHAR) AS s_missing, CAST(NULL AS VARCHAR) AS s_null,
        |  'deep' AS s_bracket, 'true' AS s_bool""".stripMargin) { (s, _) =>
      s.sql(
        """SELECT
          |  json_extract_scalar('{"a":"x"}', '$.a') AS s_str,
          |  json_extract_scalar('{"a":7}', '$.a') AS s_num,
          |  json_extract_scalar('{"a":{"b":1}}', '$.a') AS s_obj,
          |  json_extract_scalar('[1,2]', '$') AS s_arr,
          |  json_extract_scalar('{"a":[1,2]}', '$.a[1]') AS s_elem,
          |  json_extract_scalar('{"a":1}', '$.b') AS s_missing,
          |  json_extract_scalar('{"a":null}', '$.a') AS s_null,
          |  json_extract_scalar('{"a b":"deep"}', '$["a b"]') AS s_bracket,
          |  json_extract_scalar('{"a":true}', '$.a') AS s_bool""".stripMargin)
    },

    // JSON casts — JsonToArrayCast/JsonExtract (from_json/to_json side);
    // literal inputs, literal-expected oracle.
    Q("func_json_casts",
      """SELECT 3 AS arr_len, 2 AS second_elem, 7 AS nested_b,
        |  '{"x":1,"y":"z"}' AS rendered, true AS is_scalar_num""".stripMargin) { (s, _) =>
      s.sql(
        """SELECT
          |  size(from_json('[1,2,3]', 'array<int>')) AS arr_len,
          |  element_at(from_json('[1,2,3]', 'array<int>'), 2) AS second_elem,
          |  from_json('{"a": {"b": 7}}', 'struct<a:struct<b:int>>').a.b AS nested_b,
          |  to_json(named_struct('x', 1, 'y', 'z')) AS rendered,
          |  get_json_object('42', '$') = '42' AS is_scalar_num""".stripMargin)
    },

    Q("func_regexp",
      """SELECT p_partkey,
        |  regexp_extract(p_name, '([a-z]+) ([a-z]+)', 2) AS second_word,
        |  regexp_matches(p_name, 'a.*e') AS matches_ae,
        |  regexp_replace(p_name, 'a', '@', 'g') AS at_name,
        |  len(regexp_extract_all(p_name, '[aeiou]')) AS n_vowels,
        |  len(string_split_regex(p_name, '\s+')) AS n_words
        |FROM part""".stripMargin) { (s, _) =>
      s.table("part").select(col("p_partkey"),
        regexp_extract(col("p_name"), "([a-z]+) ([a-z]+)", 2).as("second_word"),
        col("p_name").rlike("a.*e").as("matches_ae"),
        regexp_replace(col("p_name"), "a", "@").as("at_name"),
        size(regexp_extract_all(col("p_name"), lit("[aeiou]"), lit(0))).as("n_vowels"),
        size(split(col("p_name"), "\\s+")).as("n_words"))
    },

    Q("func_hash_binary",
      """SELECT p_partkey,
        |  md5(p_name) AS name_md5,
        |  sha256(p_name) AS name_sha256,
        |  lower(hex(encode(p_brand))) AS brand_hex,
        |  base64(encode(p_type)) AS type_b64,
        |  decode(from_base64(base64(encode(p_name)))) = p_name AS b64_roundtrip
        |FROM part WHERE p_partkey <= 100""".stripMargin) { (s, _) =>
      s.table("part").filter(col("p_partkey") <= 100).select(col("p_partkey"),
        md5(col("p_name").cast("binary")).as("name_md5"),
        sha2(col("p_name").cast("binary"), 256).as("name_sha256"),
        lower(hex(col("p_brand").cast("binary"))).as("brand_hex"),
        base64(col("p_type").cast("binary")).as("type_b64"),
        (unbase64(base64(col("p_name").cast("binary"))).cast("string") === col("p_name"))
          .as("b64_roundtrip"))
    },

    Q("func_bitwise",
      """SELECT l_orderkey,
        |  l_orderkey & 255 AS band,
        |  l_orderkey | 4096 AS bor,
        |  xor(l_orderkey, 129) AS bxor,
        |  ~l_orderkey AS bnot,
        |  l_orderkey << 2 AS shl,
        |  l_orderkey >> 1 AS shr,
        |  bit_count(l_orderkey) AS bcnt
        |FROM lineitem WHERE l_orderkey <= 300 GROUP BY l_orderkey""".stripMargin) { (s, _) =>
      s.table("lineitem").filter(col("l_orderkey") <= 300)
        .select("l_orderkey").distinct()
        .select(col("l_orderkey"),
          (col("l_orderkey").bitwiseAND(255)).as("band"),
          (col("l_orderkey").bitwiseOR(4096)).as("bor"),
          (col("l_orderkey").bitwiseXOR(129)).as("bxor"),
          expr("~l_orderkey").as("bnot"),
          shiftleft(col("l_orderkey"), 2).as("shl"),
          shiftright(col("l_orderkey"), 1).as("shr"),
          bit_count(col("l_orderkey")).as("bcnt"))
    },

    // TRY semantics (TryFunction.java / TryCastFunction.java): expression
    // errors become NULL. Literal-input oracle.
    Q("func_try",
      """SELECT NULL AS bad_int, 42 AS good_int, NULL AS div0,
        |  NULL AS overflow_add, NULL AS bad_date,
        |  NULL AS try_div0, 7 AS try_ok, NULL AS try_overflow""".stripMargin) { (s, _) =>
      s.sql(
        """SELECT
          |  try_cast('abc' AS INT) AS bad_int,
          |  try_cast('42' AS INT) AS good_int,
          |  try_divide(1, 0) AS div0,
          |  try_add(9223372036854775807L, 1L) AS overflow_add,
          |  try_cast('2020-13-45' AS DATE) AS bad_date,
          |  try_eval(CAST(1 AS INT) / 0) AS try_div0,
          |  try_eval(CAST('7' AS INT)) AS try_ok,
          |  try_eval(9223372036854775807L + 1L) AS try_overflow""".stripMargin)
    },

    // URL functions — custom UDFs (UrlFunctions.java). parse_url is a
    // Spark built-in; encode/decode are graft UDFs. Definitional oracle.
    Q("func_url",
      """SELECT 'https' AS proto, 'example.com' AS host, '/path/page' AS path,
        |  'q=spark-sql&lang=en' AS query, 'spark-sql' AS q_param,
        |  'a%20b%26c%3Dd' AS encoded, 'a b&c=d' AS decoded""".stripMargin) { (s, _) =>
      s.sql(
        """SELECT
          |  parse_url(u, 'PROTOCOL') AS proto,
          |  parse_url(u, 'HOST') AS host,
          |  parse_url(u, 'PATH') AS path,
          |  parse_url(u, 'QUERY') AS query,
          |  parse_url(u, 'QUERY', 'q') AS q_param,
          |  url_encode('a b&c=d') AS encoded,
          |  url_decode('a%20b%26c%3Dd') AS decoded
          |FROM (SELECT 'https://example.com/path/page?q=spark-sql&lang=en' AS u)""".stripMargin)
    },

    // Remaining string surface: codepoint/chr, translate, initcap-style
    // capitalization, concat_ws, repeat, iso8601 rendering, hamming via
    // same-length levenshtein equivalence on fixtures.
    Q("func_string2",
      """SELECT p_partkey,
        |  ascii(substr(p_name, 1, 1)) AS first_cp,
        |  chr(65 + CAST(p_partkey % 26 AS INT)) AS letter,
        |  translate(p_brand, '#', '-') AS dashed,
        |  concat_ws('|', p_brand, p_type) AS joined,
        |  repeat('ab', 3) AS abab,
        |  strftime(TIMESTAMP '1997-05-13 14:30:00', '%Y-%m-%dT%H:%M:%S') AS iso
        |FROM part WHERE p_partkey <= 100""".stripMargin) { (s, _) =>
      s.table("part").filter(col("p_partkey") <= 100).select(col("p_partkey"),
        ascii(substring(col("p_name"), 1, 1)).as("first_cp"),
        chr(lit(65) + (col("p_partkey") % 26).cast("int")).as("letter"),
        translate(col("p_brand"), "#", "-").as("dashed"),
        concat_ws("|", col("p_brand"), col("p_type")).as("joined"),
        repeat(lit("ab"), 3).as("abab"),
        date_format(lit("1997-05-13 14:30:00").cast("timestamp"), "yyyy-MM-dd'T'HH:mm:ss").as("iso"))
    },

    // MySQL-pattern date_format/date_parse — the reference's
    // DateTimeFunctions.java dialect; oracle via DuckDB strftime/strptime
    // (same %-specifier family; %i->%M for minutes).
    Q("func_datetime_format",
      """SELECT o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS ymd,
        |  strftime(o_orderdate, '%d/%m/%Y %H:%M') AS dmy_hm,
        |  strptime('1997-05-13 14:30:00', '%Y-%m-%d %H:%M:%S') AS parsed
        |FROM orders WHERE o_orderkey <= 1000""".stripMargin) { (s, _) =>
      s.table("orders").filter(col("o_orderkey") <= 1000).select(col("o_orderkey"),
        call_udf("date_format_mysql", col("o_orderdate"), lit("%Y-%m-%d")).as("ymd"),
        call_udf("date_format_mysql", col("o_orderdate"), lit("%d/%m/%Y %H:%i")).as("dmy_hm"),
        call_udf("date_parse_mysql", lit("1997-05-13 14:30:00"), lit("%Y-%m-%d %H:%i:%s")).as("parsed"))
    },

    // ngrams over token arrays — ArrayNgramsFunction.java; DuckDB oracle
    // via list comprehension.
    Q("func_ngrams",
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id < 50)
        |SELECT doc_id,
        |  CAST(len(list_distinct([array_to_string(w[i:i+1], ' ') for i in generate_series(1, len(w)-1)])) AS INT) AS n_distinct_bigrams,
        |  array_to_string(w[1:2], ' ') AS first_bigram
        |FROM toks""".stripMargin) { (s, _) =>
      val w = split(col("text"), " ")
      s.table("documents").filter(col("doc_id") < 50).select(col("doc_id"),
        size(array_distinct(transform(graft.functions.Fns.ngrams(w, 2), g => array_join(g, " "))))
          .as("n_distinct_bigrams"),
        array_join(slice(w, 1, 2), " ").as("first_bigram"))
    },

    // regexp_replace(string, pattern, lambda) — the lambda receives the
    // capture-group array (JoniRegexpReplaceLambdaFunction.java:39). The
    // oracle states each transformation's closed form (upper-casing every
    // letter run == upper; bracketing digit runs == static backref
    // replacement), so DuckDB checks the SEMANTICS without lambda support.
    Q("func_regexp_lambda",
      """SELECT p_partkey,
        |  upper(p_name) AS upped,
        |  regexp_replace(p_brand, '(\d+)', '<\1>', 'g') AS bracketed
        |FROM part WHERE p_partkey <= 200""".stripMargin) { (s, _) =>
      s.sql(
        """SELECT p_partkey,
          |  regexp_replace(p_name, '([a-z]+)', x -> upper(element_at(x, 1))) AS upped,
          |  regexp_replace(p_brand, '(\\d+)', x -> concat('<', element_at(x, 1), '>')) AS bracketed
          |FROM part WHERE p_partkey <= 200""".stripMargin)
    },

    // width_bucket / normalize / typeof / array cosine — misc §2.9 items.
    // width_bucket oracle via its definition; cosine vs closed form.
    Q("func_misc",
      """SELECT l_orderkey, l_quantity,
        |  CAST(least(greatest(floor((l_quantity - 0) / 50.0 * 10) + 1, 0), 11) AS BIGINT) AS qty_bucket,
        |  CAST(len(list_filter([10.0, 20.0, 30.0, 40.0], b -> b <= l_quantity)) AS INT) AS qty_bucket_arr,
        |  'bigint' AS type_of,
        |  round((l_quantity/50.0 + 1.9208/50 - 1.96 * sqrt(l_quantity/50.0*(1-l_quantity/50.0)/50 + 0.9604/2500)) / (1 + 3.8416/50), 9) AS wilson_lo,
        |  round((l_quantity/50.0 + 1.9208/50 + 1.96 * sqrt(l_quantity/50.0*(1-l_quantity/50.0)/50 + 0.9604/2500)) / (1 + 3.8416/50), 9) AS wilson_hi,
        |  'café' AS nfc,
        |  8.0 / sqrt(65.0) AS cos_sim,
        |  '2' AS m_b,
        |  '9,5,1' AS sorted_desc
        |FROM lineitem WHERE l_orderkey <= 100""".stripMargin) { (s, _) =>
      // wilson_interval_lower/upper(successes, trials, z) —
      // WilsonInterval.java:33,41 — stated by its closed form with
      // successes = l_quantity of trials = 50, z = 1.96 (z² = 3.8416);
      // identical expression text on both engines, rounded at 9 digits.
      def wilson(sign: Int): Column = {
        val p = col("l_quantity") / 50.0
        round((p + lit(1.9208) / 50 + lit(1.96 * sign) *
          sqrt(p * (lit(1) - p) / 50 + lit(0.9604) / 2500)) / (lit(1) + lit(3.8416) / 50), 9)
      }
      s.table("lineitem").filter(col("l_orderkey") <= 100).select(
        col("l_orderkey"), col("l_quantity"),
        width_bucket(col("l_quantity"), lit(0d), lit(50d), lit(10)).as("qty_bucket"),
        // array-bins width_bucket variant (MathFunctions.java widthBucket
        // with a bins array): count of bin bounds <= x
        size(filter(array(lit(10.0), lit(20.0), lit(30.0), lit(40.0)),
          b => b <= col("l_quantity"))).as("qty_bucket_arr"),
        typeof(col("l_orderkey")).as("type_of"),
        wilson(-1).as("wilson_lo"),
        wilson(+1).as("wilson_hi"),
        call_udf("normalize_nfc", lit("café")).as("nfc"),
        graft.functions.Fns.cosineSim(
          array(lit(1.0d), lit(2.0d)), array(lit(2.0d), lit(3.0d))).as("cos_sim"),
        expr("str_to_map('a=1,b=2,c=3', ',', '=')['b']").as("m_b"),
        expr("array_join(array_sort(array(5,9,1), (l, r) -> CASE WHEN l > r THEN -1 WHEN l < r THEN 1 ELSE 0 END), ',')").as("sorted_desc"))
    },

    // Custom scalar functions vs published vectors: HMAC-SHA256 from
    // RFC 4231-style test vector; IEEE754 bit patterns; base conversion;
    // Porter stemmer on words with hand-traceable derivations.
    Q("func_custom_scalars",
      """SELECT
        |  'f7bc83f430538424b13298e6aa6fb143ef4d59a14946175997479dbc2d1a3cd8' AS hmac_hex,
        |  '3ff0000000000000' AS one_bits,
        |  true AS ieee_roundtrip,
        |  'ff' AS base16,
        |  255 AS from_b16,
        |  '10' AS base2_of_2,
        |  'run' AS stem_running,
        |  'cat' AS stem_cats,
        |  'happi' AS stem_happy,
        |  'agree' AS stem_agreed""".stripMargin) { (s, _) =>
      s.sql(
        """SELECT
          |  lower(hex(hmac_sha256(encode('key', 'UTF-8'),
          |    encode('The quick brown fox jumps over the lazy dog', 'UTF-8')))) AS hmac_hex,
          |  lower(hex(to_ieee754_64(1.0D))) AS one_bits,
          |  from_ieee754_64(to_ieee754_64(-2.5D)) = -2.5D AS ieee_roundtrip,
          |  to_base(255L, 16) AS base16,
          |  from_base('ff', 16) AS from_b16,
          |  to_base(2L, 2) AS base2_of_2,
          |  word_stem('running') AS stem_running,
          |  word_stem('cats') AS stem_cats,
          |  word_stem('happy') AS stem_happy,
          |  word_stem('agreed') AS stem_agreed""".stripMargin)
    },

    // Statistical CDFs (normal_cdf/inverse_normal_cdf/beta_cdf/
    // inverse_beta_cdf — MathFunctions.java) plus is_finite/is_infinite/
    // truncate/infinity/nan. DuckDB has no erf/betainc, so the CDF columns
    // are checked against definitional constants (computed independently
    // from the published formulas, rounded at 9 digits); the
    // finite/truncate columns recompute against DuckDB's own
    // isfinite/isinf/trunc on table data.
    Q("func_math_cdf",
      """SELECT l_orderkey, l_quantity,
        |  CAST(0.024997895 AS DOUBLE) AS ncdf_a,
        |  CAST(0.691462461 AS DOUBLE) AS ncdf_b,
        |  CAST(1.959963985 AS DOUBLE) AS inv_ncdf,
        |  CAST(0.253347103 AS DOUBLE) AS inv_ncdf2,
        |  CAST(0.579825 AS DOUBLE) AS bcdf_a,
        |  CAST(0.333333333 AS DOUBLE) AS bcdf_b,
        |  CAST(0.264449983 AS DOUBLE) AS inv_bcdf,
        |  isfinite(l_quantity) AS finite_ok,
        |  isinf(l_extendedprice * 1e308 * 10) AS inf_flag,
        |  NOT isfinite('nan'::DOUBLE) AS nan_not_finite,
        |  trunc(l_extendedprice / 7) AS trunc1,
        |  floor(l_extendedprice / 7 * 100) / 100 AS trunc2,
        |  trunc(-l_extendedprice / 7) AS trunc_neg,
        |  isnan('nan'::DOUBLE) AS nan_isnan,
        |  'inf'::DOUBLE > 1e308 AS inf_big
        |FROM lineitem WHERE l_orderkey <= 50""".stripMargin) { (s, _) =>
      s.table("lineitem").filter(col("l_orderkey") <= 50).select(
        col("l_orderkey"), col("l_quantity"),
        round(call_udf("normal_cdf", lit(0.0), lit(1.0), lit(-1.96)), 9).as("ncdf_a"),
        round(call_udf("normal_cdf", lit(10.0), lit(5.0), lit(12.5)), 9).as("ncdf_b"),
        round(call_udf("inverse_normal_cdf", lit(0.0), lit(1.0), lit(0.975)), 9).as("inv_ncdf"),
        round(call_udf("inverse_normal_cdf", lit(0.0), lit(1.0), lit(0.6)), 9).as("inv_ncdf2"),
        round(call_udf("beta_cdf", lit(2.0), lit(5.0), lit(0.3)), 9).as("bcdf_a"),
        round(call_udf("beta_cdf", lit(0.5), lit(0.5), lit(0.25)), 9).as("bcdf_b"),
        round(call_udf("inverse_beta_cdf", lit(2.0), lit(5.0), lit(0.5)), 9).as("inv_bcdf"),
        expr("is_finite(l_quantity)").as("finite_ok"),
        expr("is_infinite(l_extendedprice * 1e308D * 10)").as("inf_flag"),
        expr("NOT is_finite(nan())").as("nan_not_finite"),
        expr("truncate(l_extendedprice / 7)").as("trunc1"),
        expr("truncate(l_extendedprice / 7, 2)").as("trunc2"),
        expr("truncate(-l_extendedprice / 7)").as("trunc_neg"),
        expr("is_nan(nan())").as("nan_isnan"),
        expr("infinity() > 1e308D").as("inf_big"))
    },

    // hamming_distance / split_to_map / split_to_multimap / levenshtein —
    // StringFunctions.java hammingDistance, SplitToMapFunction.java,
    // SplitToMultimapFunction.java. DuckDB recomputes hamming/levenshtein;
    // the map splitters are checked against definitional literals.
    Q("func_string3",
      """SELECT p_partkey,
        |  hamming(substr(p_name, 1, 5), upper(substr(p_name, 1, 5))) AS ham,
        |  levenshtein(p_brand, 'Brand#11') AS lev,
        |  '2' AS stm_b,
        |  '{"a":["1","2"],"b":["3"]}' AS multimap_json
        |FROM part WHERE p_partkey <= 200""".stripMargin) { (s, _) =>
      s.table("part").filter(col("p_partkey") <= 200).select(
        col("p_partkey"),
        call_udf("hamming_distance",
          substring(col("p_name"), 1, 5), upper(substring(col("p_name"), 1, 5))).as("ham"),
        levenshtein(col("p_brand"), lit("Brand#11")).as("lev"),
        expr("split_to_map('a=1,b=2,c=3', ',', '=')['b']").as("stm_b"),
        to_json(call_udf("split_to_multimap", lit("a=1,a=2,b=3"), lit(","), lit("="))).as("multimap_json"))
    },

    // Big-endian varbinary codecs — VarbinaryFunctions.java
    // to/from_big_endian_32/64; bit patterns stated as literals, plus
    // sign-preserving roundtrips.
    Q("func_binary_endian",
      """SELECT
        |  '0000000000000102' AS be64_hex,
        |  'fffffffffffffffe' AS be64_neg_hex,
        |  -123456789 AS be64_rt,
        |  '00000001' AS be32_hex,
        |  -42 AS be32_rt""".stripMargin) { (s, _) =>
      s.sql(
        """SELECT
          |  lower(hex(to_big_endian_64(258L))) AS be64_hex,
          |  lower(hex(to_big_endian_64(-2L))) AS be64_neg_hex,
          |  from_big_endian_64(to_big_endian_64(-123456789L)) AS be64_rt,
          |  lower(hex(to_big_endian_32(1))) AS be32_hex,
          |  from_big_endian_32(to_big_endian_32(-42)) AS be32_rt""".stripMargin)
    },

    // Joda-pattern format_datetime/parse_datetime, current_timezone,
    // parse_duration -> to_milliseconds, parse_presto_data_size —
    // DateTimeFunctions.java, SessionFunctions.java, DataSizeFunctions.java.
    Q("func_datetime2",
      """SELECT o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d %H:%M') AS fd,
        |  strptime('2001-07-04 10:30', '%Y-%m-%d %H:%M') AS pd,
        |  'UTC' AS ctz,
        |  CAST(90000 AS BIGINT) AS dur_ms,
        |  CAST(129 AS BIGINT) AS dur_s_ms,
        |  CAST(2411724 AS BIGINT) AS dsize_mb,
        |  CAST(100 AS BIGINT) AS dsize_plain
        |FROM orders WHERE o_orderkey <= 500""".stripMargin) { (s, _) =>
      s.table("orders").filter(col("o_orderkey") <= 500).select(
        col("o_orderkey"),
        call_udf("format_datetime", col("o_orderdate"), lit("yyyy-MM-dd HH:mm")).as("fd"),
        call_udf("parse_datetime", lit("2001-07-04 10:30"), lit("yyyy-MM-dd HH:mm")).as("pd"),
        expr("current_timezone()").as("ctz"),
        call_udf("to_milliseconds", call_udf("parse_duration", lit("1.5m"))).as("dur_ms"),
        call_udf("to_milliseconds", call_udf("parse_duration", lit("129ms"))).as("dur_s_ms"),
        call_udf("parse_presto_data_size", lit("2.3MB")).as("dsize_mb"),
        call_udf("parse_presto_data_size", lit("100B")).as("dsize_plain"))
    },

    // JSON predicate/accessor tail — JsonFunctions.java json_array_length,
    // json_array_get (negative index from the end), json_array_contains,
    // is_json_scalar, json_size. DuckDB's JSON extension recomputes each.
    Q("func_json2",
      """SELECT d.doc_id,
        |  CAST(json_array_length('[1,2,3,"x"]') AS INT) AS jal,
        |  CAST(json_extract('[10,20,30]', '$[2]') AS VARCHAR) AS jag_last,
        |  CAST(json_extract('[10,20,30]', '$[0]') AS VARCHAR) AS jag_first,
        |  json_contains('[1,2,3]', '2') AS jac_num,
        |  json_contains('["a","b"]', '"b"') AS jac_str,
        |  NOT json_contains('[1,2,3]', '7') AS jac_none,
        |  true AS scalar_num,
        |  true AS scalar_arr,
        |  CAST(len(json_keys('{"a":{"b":1,"c":2}}', '$.a')) AS BIGINT) AS jsize_obj,
        |  CAST(0 AS BIGINT) AS jsize_scalar,
        |  CAST(json_array_length(json_extract('{"xs":[1,2]}', '$.xs')) AS BIGINT) AS jsize_arr
        |FROM (SELECT doc_id FROM documents WHERE doc_id < 5) d""".stripMargin) { (s, _) =>
      s.table("documents").filter(col("doc_id") < 5).select(col("doc_id"))
        .selectExpr("doc_id",
          "json_array_length('[1,2,3,\"x\"]') AS jal",
          "json_array_get('[10,20,30]', -1) AS jag_last",
          "json_array_get('[10,20,30]', 0) AS jag_first",
          "json_array_contains('[1,2,3]', 2) AS jac_num",
          "json_array_contains('[\"a\",\"b\"]', 'b') AS jac_str",
          "NOT json_array_contains('[1,2,3]', 7) AS jac_none",
          "is_json_scalar('42') AS scalar_num",
          "NOT is_json_scalar('[1,2]') AS scalar_arr",
          "json_size('{\"a\":{\"b\":1,\"c\":2}}', '$.a') AS jsize_obj",
          "json_size('{\"a\":{\"b\":1,\"c\":2}}', '$.a.b') AS jsize_scalar",
          "json_size('{\"xs\":[1,2]}', '$.xs') AS jsize_arr")
    },

    // Array/map constructor tail — ArrayRemoveFunction.java,
    // MapEntriesFunction.java, MultimapFromEntriesFunction.java:42.
    // Array-valued outputs stringified for the driver's comparator.
    Q("func_array2",
      """SELECT p_partkey,
        |  array_to_string(list_filter(string_split(p_name, ' '), x -> x != 'spring'), ' ') AS removed,
        |  array_to_string(list_transform(map_entries(map([p_brand],[p_size])),
        |                                 e -> e.key || '=' || CAST(e.value AS VARCHAR)), ',') AS entries_str,
        |  '{"a":["1","3"],"b":["2"]}' AS mmap
        |FROM part WHERE p_partkey <= 200""".stripMargin) { (s, _) =>
      s.table("part").filter(col("p_partkey") <= 200).selectExpr(
        "p_partkey",
        "array_join(array_remove(split(p_name, ' '), 'spring'), ' ') AS removed",
        "array_join(transform(map_entries(map(p_brand, p_size)), e -> concat(e.key, '=', CAST(e.value AS STRING))), ',') AS entries_str",
        "to_json(multimap_from_entries(array(struct('a','1'), struct('b','2'), struct('a','3')))) AS mmap")
    },

    // map_concat — MapConcatFunction.java. Disjoint keys (the dup-key
    // override is LAST_WIN in Presto vs session-policy in Spark —
    // documented delta); cardinality + lookups verify the merged map.
    Q("func_map2",
      """SELECT d.doc_id,
        |  CAST(map_concat(map(['a'],[1]), map(['b','c'],[2,3]))['b'][1] AS INT) AS mc_b,
        |  CAST(map_concat(map(['a'],[1]), map(['b','c'],[2,3]))['a'][1] AS INT) AS mc_a,
        |  CAST(cardinality(map_concat(map(['a'],[1]), map(['b','c'],[2,3]))) AS INT) AS mc_n
        |FROM (SELECT doc_id FROM documents WHERE doc_id < 5) d""".stripMargin) { (s, _) =>
      s.table("documents").filter(col("doc_id") < 5).selectExpr("doc_id",
        "element_at(map_concat(map('a', 1), map('b', 2, 'c', 3)), 'b') AS mc_b",
        "element_at(map_concat(map('a', 1), map('b', 2, 'c', 3)), 'a') AS mc_a",
        "size(map_concat(map('a', 1), map('b', 2, 'c', 3))) AS mc_n")
    },

    // Datetime accessor tail — DateTimeFunctions.java millisecond (:705),
    // year_of_week, at_timezone + timezone_hour/timezone_minute (the
    // TIMESTAMP WITH TIME ZONE accessors; our representation of a
    // tz-carrying timestamp is the ISO-8601 offset string, and the
    // (ts, zone) pair stands in for the packed tz value — documented).
    // DST pins the zone rules: New York is -5 in January, -4 in July;
    // Kathmandu has a 45-minute offset.
    Q("func_datetime3",
      """SELECT o_orderkey,
        |  CAST(isoyear(o_orderdate) AS BIGINT) AS yow,
        |  CAST(321 AS BIGINT) AS ms,
        |  CAST(2004 AS BIGINT) AS yow_lit,
        |  '2001-07-04T03:30:00-07:00' AS at_tz,
        |  CAST(-5 AS BIGINT) AS tzh_win,
        |  CAST(-4 AS BIGINT) AS tzh_sum,
        |  CAST(45 AS BIGINT) AS tzm
        |FROM orders WHERE o_orderkey <= 500""".stripMargin) { (s, _) =>
      s.table("orders").filter(col("o_orderkey") <= 500).selectExpr(
        "o_orderkey",
        "CAST(extract(YEAROFWEEK FROM o_orderdate) AS BIGINT) AS yow",
        "millisecond(TIMESTAMP '2001-08-22 03:04:05.321') AS ms",
        "year_of_week(DATE '2005-01-02') AS yow_lit",
        "at_timezone(TIMESTAMP '2001-07-04 10:30:00', 'America/Los_Angeles') AS at_tz",
        "timezone_hour(TIMESTAMP '2001-01-15 12:00:00', 'America/New_York') AS tzh_win",
        "timezone_hour(TIMESTAMP '2001-07-15 12:00:00', 'America/New_York') AS tzh_sum",
        "timezone_minute(TIMESTAMP '2001-07-15 12:00:00', 'Asia/Kathmandu') AS tzm")
    },

    // Binary encoding tail — VarbinaryFunctions.java to/from_base64url
    // (:85, java.util URL alphabet WITH padding), to/from_ieee754_32,
    // to_hex/from_hex. Expected literals are definitional (RFC 4648 /
    // IEEE 754): b64url('01FBFF')='Afv_', pad case 'Afs=', float 1.5
    // is 0x3FC00000.
    Q("func_binary2",
      """SELECT
        |  'Afv_' AS b64u,
        |  'Afs=' AS b64u_pad,
        |  '01fbff' AS b64u_rt_hex,
        |  '3FC00000' AS ieee32_hex,
        |  CAST(-0.5 AS DOUBLE) AS ieee32_rt,
        |  '01FBFF' AS hex_up,
        |  'abcdef' AS hex_rt""".stripMargin) { (s, _) =>
      s.sql(
        """SELECT
          |  to_base64url(X'01FBFF') AS b64u,
          |  to_base64url(X'01FB') AS b64u_pad,
          |  lower(hex(from_base64url('Afv_'))) AS b64u_rt_hex,
          |  to_hex(to_ieee754_32(CAST(1.5 AS FLOAT))) AS ieee32_hex,
          |  CAST(from_ieee754_32(to_ieee754_32(CAST(-0.5 AS FLOAT))) AS DOUBLE) AS ieee32_rt,
          |  to_hex(from_hex('01fbff')) AS hex_up,
          |  lower(to_hex(from_hex('ABCDEF'))) AS hex_rt""".stripMargin)
    },

    // Teradata compatibility plugin — presto-teradata-functions:
    // index (TeradataStringFunctions.java:40), char2hexint (:109,
    // definitional literal: UTF-16BE of 'ABC'), to_char/to_date/
    // to_timestamp with the Teradata format grammar
    // (TeradataDateFunctions.java:63-96, dateformat/DateFormatParser
    // .java:37-70). Exercised over orders dates so the format
    // translation runs across real data, not one literal.
    Q("func_teradata",
      """SELECT o_orderkey,
        |  strftime(o_orderdate, '%Y/%m/%d') AS td_char,
        |  CAST(strptime('1988/04/08', '%Y/%m/%d') AS DATE) AS td_date,
        |  CAST(strptime('1988/04/08 02:03:04', '%Y/%m/%d %H:%M:%S') AS TIMESTAMP) AS td_ts,
        |  CAST(instr(o_orderpriority, 'URGENT') AS BIGINT) AS td_index,
        |  '004100420043' AS td_hex
        |FROM orders WHERE o_orderkey <= 500""".stripMargin) { (s, _) =>
      s.sql(
        """SELECT o_orderkey,
          |  to_char(CAST(o_orderdate AS TIMESTAMP), 'yyyy/mm/dd') AS td_char,
          |  to_date('1988/04/08', 'yyyy/mm/dd') AS td_date,
          |  to_timestamp('1988/04/08 02:03:04', 'yyyy/mm/dd hh24:mi:ss') AS td_ts,
          |  CAST(index(o_orderpriority, 'URGENT') AS BIGINT) AS td_index,
          |  char2hexint('ABC') AS td_hex
          |FROM orders WHERE o_orderkey <= 500""".stripMargin)
    },

    // SpookyHash V2 + Wilson interval + empty_approx_set — the last
    // named scalars from the registry sweep. Spooky vectors are the
    // reference's own (TestVarbinaryFunctions.java:338-341); wilson
    // runs over real data with the oracle replaying the identical
    // double-op order (WilsonInterval.java:52-57).
    Q("func_spooky_wilson",
      """SELECT o_orderkey,
        |  '6BF50919' AS sp32_empty,
        |  'D382E6CA' AS sp32_hello,
        |  '232706FC6BF50919' AS sp64_empty,
        |  '3768826AD382E6CA' AS sp64_hello,
        |  ((o_orderkey % 50) * 1.0 / 50 + (1.96 * 1.96) / (2 * 50.0)
        |    - 1.96 * sqrt((((o_orderkey % 50) * 1.0 / 50) * (1 - (o_orderkey % 50) * 1.0 / 50)) / 50.0
        |                  + (1.96 * 1.96) / (4 * 50.0 * 50.0)))
        |    / (1 + (1.96 * 1.96) / 50.0) AS w_lo,
        |  CAST(0 AS BIGINT) AS empty_hll_card
        |FROM orders WHERE o_orderkey <= 300""".stripMargin) { (s, _) =>
      s.sql(
        """SELECT o_orderkey,
          |  to_hex(spooky_hash_v2_32(CAST('' AS BINARY))) AS sp32_empty,
          |  to_hex(spooky_hash_v2_32(CAST('hello' AS BINARY))) AS sp32_hello,
          |  to_hex(spooky_hash_v2_64(CAST('' AS BINARY))) AS sp64_empty,
          |  to_hex(spooky_hash_v2_64(CAST('hello' AS BINARY))) AS sp64_hello,
          |  wilson_interval_lower(o_orderkey % 50, 50, 1.96) AS w_lo,
          |  hll_cardinality(empty_approx_set()) AS empty_hll_card
          |FROM orders WHERE o_orderkey <= 300""".stripMargin)
    },

    // ipaddress type + functions — StandardTypes.java:43,
    // IpAddressType.java:36 (16-byte value), IpAddressOperators.java:
    // 126-187 (varchar/varbinary casts, v4-mapped storage). The 16-byte
    // form surfaces via ip_to_bytes (hex-checked against the mapped
    // layout 00..00FFFF||v4); CIDR helpers run over key-derived IPv4s
    // with the oracle recomputing via 32-bit integer arithmetic.
    // Pure per-row compute: no shuffle at any scale. IPv6 parsing /
    // RFC 5952 rendering is pinned by FunctionSpecs vectors.
    Q("func_ipaddress",
      """WITH ips AS (
        |  SELECT c_custkey,
        |    (1 + (c_custkey * 7) % 223) * 16777216 + (c_custkey % 256) * 65536
        |      + ((c_custkey * 3) % 256) * 256 + (c_custkey * 13) % 256 AS v,
        |    8 + (c_custkey % 25) AS bits
        |  FROM customer WHERE c_custkey <= 600),
        |net AS (
        |  SELECT c_custkey, v, bits,
        |    (v >> (32 - bits)) << (32 - bits) AS netv,
        |    ((v >> (32 - bits)) << (32 - bits)) + (CAST(1 AS BIGINT) << (32 - bits)) - 1 AS maxv
        |  FROM ips),
        |fmt AS (
        |  SELECT c_custkey, bits, netv, maxv,
        |    ((v >> 24) & 255) || '.' || ((v >> 16) & 255) || '.' || ((v >> 8) & 255) || '.' || (v & 255) AS ip,
        |    ((netv >> 24) & 255) || '.' || ((netv >> 16) & 255) || '.' || ((netv >> 8) & 255) || '.' || (netv & 255) AS nets,
        |    ((maxv >> 24) & 255) || '.' || ((maxv >> 16) & 255) || '.' || ((maxv >> 8) & 255) || '.' || (maxv & 255) AS maxs,
        |    v >= 2147483648 AS hi
        |  FROM net)
        |SELECT c_custkey, ip,
        |  '00000000000000000000FFFF' || upper(lpad(hex((netv >> 24) & 255), 2, '0') || lpad(hex((netv >> 16) & 255), 2, '0')
        |    || lpad(hex((netv >> 8) & 255), 2, '0') || lpad(hex(netv & 255), 2, '0')) AS net_bytes_hex,
        |  nets || '/' || bits AS pfx,
        |  nets AS smin,
        |  maxs AS smax,
        |  hi AS in_upper_half,
        |  true AS self_in_own_subnet
        |FROM fmt""".stripMargin) { (s, _) =>
      s.sql(
        """WITH ips AS (
          |  SELECT c_custkey,
          |    concat(1 + (c_custkey * 7) % 223, '.', c_custkey % 256, '.',
          |           (c_custkey * 3) % 256, '.', (c_custkey * 13) % 256) AS ip,
          |    CAST(8 + (c_custkey % 25) AS INT) AS bits
          |  FROM customer WHERE c_custkey <= 600)
          |SELECT c_custkey, ip,
          |  to_hex(ip_to_bytes(ip_subnet_min(concat(ip, '/', bits)))) AS net_bytes_hex,
          |  ip_prefix(ip, bits) AS pfx,
          |  ip_subnet_min(concat(ip, '/', bits)) AS smin,
          |  ip_subnet_max(concat(ip, '/', bits)) AS smax,
          |  is_subnet_of('128.0.0.0/1', ip) AS in_upper_half,
          |  is_subnet_of(concat(ip, '/', bits), ip_from_bytes(ip_to_bytes(ip))) AS self_in_own_subnet
          |FROM ips""".stripMargin)
    },

    // Geometry measures over WKT polygon rings — GeoFunctions.java
    // stArea / stLength / stCentroid / envelope accessors, the measure
    // slice of the geometry plugin beyond the join predicates. Supplier
    // diamonds (slope ±1, integer centers/radii) have exact closed
    // forms, so the oracle computes area = 2r^2, centroid = center,
    // envelope = center ± r — fully independent of the WKT parse +
    // shoelace/fold path under test (integer shoelace terms are exact
    // in double, so those equalities are bit-for-bit). Perimeter is the
    // one inexact sum: the oracle restates the fold's left-association
    // (s+s+s+s over the same sqrt argument) so rounding matches bitwise.
    Q("func_geometry",
      """SELECT s_suppkey,
        |  CAST(2 * r * r AS DOUBLE) AS area,
        |  sqrt(CAST(2 * r * r AS DOUBLE)) + sqrt(CAST(2 * r * r AS DOUBLE))
        |    + sqrt(CAST(2 * r * r AS DOUBLE)) + sqrt(CAST(2 * r * r AS DOUBLE)) AS perimeter,
        |  CAST(cx AS DOUBLE) AS centroid_x,
        |  CAST(cy AS DOUBLE) AS centroid_y,
        |  CAST(cx - r AS DOUBLE) AS env_xmin,
        |  CAST(cy + r AS DOUBLE) AS env_ymax
        |FROM (SELECT s_suppkey,
        |        (s_suppkey * 13) % 35 + 2 AS cx,
        |        (s_suppkey * 29) % 35 + 2 AS cy,
        |        2 + s_suppkey % 3 AS r
        |      FROM supplier) t""".stripMargin) { (s, _) =>
      import graft.operators.SpatialJoinOps
      val cx = col("s_suppkey") * 13 % 35 + 2
      val cy = col("s_suppkey") * 29 % 35 + 2
      val r = col("s_suppkey") % 3 + 2
      val wkt = concat(lit("POLYGON (("),
        cx + r, lit(" "), cy, lit(", "),
        cx, lit(" "), cy + r, lit(", "),
        cx - r, lit(" "), cy, lit(", "),
        cx, lit(" "), cy - r, lit(", "),
        cx + r, lit(" "), cy, lit("))"))
      val pts = SpatialJoinOps.parsePolygonWkt(wkt)
      s.table("supplier").select(col("s_suppkey"),
        SpatialJoinOps.stArea(pts).as("area"),
        SpatialJoinOps.stLengthRing(pts).as("perimeter"),
        SpatialJoinOps.stCentroidX(pts).as("centroid_x"),
        SpatialJoinOps.stCentroidY(pts).as("centroid_y"),
        array_min(transform(pts, p => p.getField("x"))).as("env_xmin"),
        array_max(transform(pts, p => p.getField("y"))).as("env_ymax"))
    },

    // Color plugin (ColorFunctions.java): color values are BIGINTs
    // (0xRRGGBB, system colors -(idx+1)); render emits xterm-256 escapes
    // with idx = 16 + 36r' + 6g' + b' on the 6-level cube (channel*6/256).
    // The oracle restates that arithmetic in SQL; HSB-interpolated color()
    // and bar() are pinned by ColorFunctionsSpec (float HSB not SQL-safe).
    Q("func_color",
      """SELECT p_partkey,
        |  CAST(p_partkey % 256 AS BIGINT) * 65536
        |    + CAST((p_partkey * 7) % 256 AS BIGINT) * 256
        |    + CAST((p_partkey * 13) % 256 AS BIGINT) AS rgb_val,
        |  CAST(16711850 AS BIGINT) AS hex_color,
        |  CAST(CASE p_partkey % 4 WHEN 0 THEN -2 WHEN 1 THEN -3
        |       WHEN 2 THEN -5 ELSE -7 END AS BIGINT) AS sys_color,
        |  chr(27) || '[38;5;1m' || p_brand || chr(27) || '[0m' AS rendered,
        |  chr(27) || '[38;5;' ||
        |    CAST(16 + (p_partkey % 256) * 6 // 256 * 36
        |       + ((p_partkey * 7) % 256) * 6 // 256 * 6
        |       + ((p_partkey * 13) % 256) * 6 // 256 AS VARCHAR) ||
        |    'm' || 'X' || chr(27) || '[0m' AS rendered_cube,
        |  CASE WHEN p_partkey % 2 = 0
        |       THEN chr(27) || '[38;5;2m' || '✓' || chr(27) || '[0m'
        |       ELSE chr(27) || '[38;5;1m' || '✗' || chr(27) || '[0m'
        |  END AS rendered_bool
        |FROM part WHERE p_partkey <= 200""".stripMargin) { (s, _) =>
      s.table("part").filter(col("p_partkey") <= 200).selectExpr(
        "p_partkey",
        "rgb(p_partkey % 256, (p_partkey * 7) % 256, (p_partkey * 13) % 256) AS rgb_val",
        "color('#f0a') AS hex_color",
        "color(CASE p_partkey % 4 WHEN 0 THEN 'red' WHEN 1 THEN 'green' " +
          "WHEN 2 THEN 'blue' ELSE 'cyan' END) AS sys_color",
        "render(p_brand, color('red')) AS rendered",
        "render('X', rgb(p_partkey % 256, (p_partkey * 7) % 256, (p_partkey * 13) % 256)) AS rendered_cube",
        "render(p_partkey % 2 = 0) AS rendered_bool")
    },

    // Zone-carrying TIMESTAMP WITH TIME ZONE (DateTimeEncoding.java:
    // packed (millisUtc << 12) | zoneKey; TimeZoneKey.java) — the r7
    // "UTC-normalized pair" delta closed: values carry their zone
    // through at_timezone round-trips, and timezone_hour/_minute read
    // the CARRIED zone, not the session zone. Oracle zones are fixed
    // offset (no DST) so the expected offsets are CASE constants;
    // DST-aware offsets are spec-pinned (FunctionSpecs). The rendered
    // string proves wall-time preservation: with_timezone interprets
    // the wall clock in the zone and tz_format renders it back.
    Q("func_datetime_tz",
      """WITH t AS (SELECT s_suppkey,
        |    TIMESTAMP '1995-01-01 00:00:00' + s_suppkey * INTERVAL 1 HOUR AS wall,
        |    CASE s_suppkey % 4 WHEN 0 THEN 'UTC' WHEN 1 THEN 'Asia/Tokyo'
        |         WHEN 2 THEN 'Asia/Kolkata' ELSE '-07:00' END AS zone,
        |    CASE s_suppkey % 4 WHEN 0 THEN 0 WHEN 1 THEN 32400
        |         WHEN 2 THEN 19800 ELSE -25200 END AS offs
        |  FROM supplier)
        |SELECT s_suppkey,
        |  CAST((epoch(wall) - offs) * 1000 AS BIGINT) AS millis_utc,
        |  zone AS zone_out,
        |  CAST(offs // 3600 AS BIGINT) AS tz_hour,
        |  CAST((offs // 60) % 60 AS BIGINT) AS tz_minute,
        |  true AS roundtrip,
        |  strftime(wall, '%Y-%m-%d %H:%M:%S') || '.000 ' || zone AS rendered
        |FROM t""".stripMargin) { (s, _) =>
      s.table("supplier").selectExpr("s_suppkey",
          "timestampadd(HOUR, CAST(s_suppkey AS INT), TIMESTAMP'1995-01-01 00:00:00') AS wall",
          """CASE CAST(s_suppkey % 4 AS INT) WHEN 0 THEN 'UTC' WHEN 1 THEN 'Asia/Tokyo'
            |     WHEN 2 THEN 'Asia/Kolkata' ELSE '-07:00' END AS zone""".stripMargin)
        .selectExpr("s_suppkey", "with_timezone(wall, zone) AS packed", "wall", "zone")
        .selectExpr("s_suppkey",
          "tz_millis(packed) AS millis_utc",
          "tz_zone(packed) AS zone_out",
          "tz_timezone_hour(packed) AS tz_hour",
          "tz_timezone_minute(packed) AS tz_minute",
          // zone survives a UTC detour; instant survives a re-tag
          """tz_zone(tz_at_timezone(tz_at_timezone(packed, 'UTC'), zone)) = zone
            |AND tz_millis(tz_at_timezone(packed, 'Asia/Tokyo')) = tz_millis(packed)
            |AS roundtrip""".stripMargin,
          "tz_format(packed) AS rendered")
    },

    // Presto-name parity wave (round 8, PrestoNames.scala): the SQL
    // names from the reference's @ScalarFunction surface that resolved
    // only under Spark spellings before — varbinary codecs + SHA-2
    // (VarbinaryFunctions.java; sha256/sha512 return VARBINARY, hence
    // to_hex), bitwise functions (MathFunctions.java, bigint),
    // combine_hash (CombineHashFunction.java: 31*h1 + h2), URL
    // extraction (UrlFunctions.java), normalize/levenshtein_distance
    // (StringFunctions.java), json_parse/json_format (JsonOperators),
    // ngrams (ArrayNgramsFunction.java), date_parse (MySQL patterns).
    // sha512 + HMAC answers are published vectors (NIST / RFC 2202)
    // because DuckDB lacks those functions.
    Q("func_presto_names",
      """WITH u AS (
        |  SELECT p_partkey, p_name, p_brand, CAST(p_size AS BIGINT) AS sz FROM part)
        |SELECT p_partkey,
        |  p_name AS rt_name,
        |  upper(sha256(p_brand)) AS sha_hex,
        |  'DDAF35A193617ABACC417349AE20413112E6FA4E89A97EA20A9EEEE64B55D39A2192992A274FC1A836BA3C23A3FEEBBD454D4423643CE80E2A9AC94FA54CA49F' AS sha512_vec,
        |  '750C783E6AB0B503EAA86E310A5DB738' AS hmac_md5_vec,
        |  'EFFCDF6AE5EB2FA2D27416D5F184DF9C259A7C79' AS hmac_sha1_vec,
        |  CAST(levenshtein(p_brand, 'Brand#25') AS BIGINT) AS lev,
        |  p_partkey & sz AS band,
        |  p_partkey | sz AS bor,
        |  xor(p_partkey, sz) AS bxor,
        |  ~p_partkey AS bnot,
        |  31 * p_partkey + sz AS chash,
        |  'https' AS proto,
        |  'shop.example.com' AS host,
        |  CAST(8080 AS BIGINT) AS port,
        |  '/parts/' || p_partkey AS path,
        |  'size=' || sz || '&x=1' AS qry,
        |  'sec' AS frag,
        |  CAST(sz AS VARCHAR) AS size_param,
        |  nfc_normalize(p_name) AS norm,
        |  '{"k":' || p_partkey || ',"s":"' || p_brand || '"}' AS js,
        |  CAST(greatest(len(string_split(p_name, ' ')) - 1, 0) AS BIGINT) AS bigram_ct,
        |  strptime('2024-03-' || lpad(CAST(p_partkey % 28 + 1 AS VARCHAR), 2, '0'), '%Y-%m-%d') AS dp
        |FROM u""".stripMargin) { (s, _) =>
      s.sql(
        """WITH u AS (
          |  SELECT p_partkey, p_name, p_brand, CAST(p_size AS BIGINT) AS sz,
          |    concat('https://shop.example.com:8080/parts/', CAST(p_partkey AS STRING),
          |           '?size=', CAST(p_size AS STRING), '&x=1#sec') AS url
          |  FROM part),
          |v AS (
          |  -- constant published vectors: UDFs are not constant-folded, so
          |  -- evaluate once and broadcast rather than once per row
          |  SELECT to_hex(sha512(to_utf8('abc'))) AS sha512_vec,
          |    to_hex(hmac_md5(to_utf8('Jefe'), to_utf8('what do ya want for nothing?'))) AS hmac_md5_vec,
          |    to_hex(hmac_sha1(to_utf8('Jefe'), to_utf8('what do ya want for nothing?'))) AS hmac_sha1_vec)
          |SELECT p_partkey,
          |  from_utf8(from_base64(to_base64(to_utf8(p_name)))) AS rt_name,
          |  to_hex(sha256(to_utf8(p_brand))) AS sha_hex,
          |  sha512_vec, hmac_md5_vec, hmac_sha1_vec,
          |  levenshtein_distance(p_brand, 'Brand#25') AS lev,
          |  bitwise_and(p_partkey, sz) AS band,
          |  bitwise_or(p_partkey, sz) AS bor,
          |  bitwise_xor(p_partkey, sz) AS bxor,
          |  bitwise_not(p_partkey) AS bnot,
          |  combine_hash(p_partkey, sz) AS chash,
          |  url_extract_protocol(url) AS proto,
          |  url_extract_host(url) AS host,
          |  url_extract_port(url) AS port,
          |  url_extract_path(url) AS path,
          |  url_extract_query(url) AS qry,
          |  url_extract_fragment(url) AS frag,
          |  url_extract_parameter(url, 'size') AS size_param,
          |  normalize(p_name) AS norm,
          |  json_format(json_parse(concat('{"k":', CAST(p_partkey AS STRING), ',"s":"', p_brand, '"}'))) AS js,
          |  CAST(cardinality(ngrams(split(p_name, ' '), 2)) AS BIGINT) AS bigram_ct,
          |  date_parse(concat('2024-03-', lpad(CAST(p_partkey % 28 + 1 AS STRING), 2, '0')), '%Y-%m-%d') AS dp
          |FROM u CROSS JOIN v""".stripMargin)
    })
}
