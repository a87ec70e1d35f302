package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.matching.Regex

/** Thin Presto-dialect SQL front door (SURVEY §7.0 graft.sql): applies
  * light textual rewrites for constructs whose syntax differs (the
  * Presto-named function aliases come with every session Engine.session
  * builds), then delegates to spark.sql (the
  * real parser/analyzer/optimizer — we do NOT rebuild those layers).
  *
  * Handled dialect deltas (reference: presto-docs functions + SqlBase.g4):
  *  - date_add('unit', n, ts)  -> timestampadd(unit, n, ts)
  *  - date_diff('unit', a, b)  -> timestampdiff(unit, a, b)
  *  - CAST(.. AS VARCHAR)      -> CAST(.. AS STRING) (bare varchar)
  *  - approx_distinct / strpos / arbitrary / codepoint — via registered
  *    aliases (FunctionRegistry), no rewrite needed.
  * Everything else (||, LIKE/ESCAPE, lambdas x -> x, TRY_CAST, INTERVAL,
  * GROUPING SETS, window frames ...) parses identically in Spark SQL.
  */
object PrestoSql {

  // TRY( must not swallow try_cast/try_divide/...: require a word
  // boundary before TRY and no word char after it.
  private val combined: Regex =
    """(?i)(date_add\s*\(\s*'(\w+)'\s*,)|(date_diff\s*\(\s*'(\w+)'\s*,)|(AS\s+VARCHAR\s*\))|(?<![\w.])(TRY\s*\()|(?<![\w.])(LOCALTIME)(?![\w(])|(?<![\w.])(LIMIT\s+ALL)(?![\w])""".r

  /** Rewrite in one pass over the original text, skipping any match that
    * starts inside a single-quoted string literal ('' escapes handled) —
    * query constants are never corrupted. (The date_add unit itself is a
    * literal, but the match *starts* at the function name, outside it.)
    */
  def rewrite(sql: String): String = {
    val inLit = new Array[Boolean](sql.length)
    var i = 0
    var in = false
    while (i < sql.length) {
      if (sql(i) == '\'') {
        if (in && i + 1 < sql.length && sql(i + 1) == '\'') {
          inLit(i) = true; inLit(i + 1) = true; i += 1
        } else { in = !in; inLit(i) = true }
      } else inLit(i) = in
      i += 1
    }
    combined.replaceAllIn(sql, m =>
      if (inLit(m.start)) Regex.quoteReplacement(m.matched)
      else if (m.group(1) != null) s"timestampadd(${m.group(2).toUpperCase},"
      else if (m.group(3) != null) s"timestampdiff(${m.group(4).toUpperCase},"
      else if (m.group(6) != null) "try_eval("
      else if (m.group(7) != null) "localtime()" // bare keyword in Presto's grammar
      else if (m.group(8) != null) "" // LIMIT ALL = no limit (SqlBase.g4 limit clause)
      else "AS STRING)")
  }

  // ---- Quantified comparisons (op ALL/ANY/SOME (subquery)) ----
  // Spark SQL has no quantified-comparison syntax; the reference rewrites
  // them to min/max over the subquery
  // (TransformQuantifiedComparisonApplyToLateralJoin.java:75). Same
  // transformation here, textually:
  //   x <  ALL (q) -> x <  (SELECT min(c) FROM (q) __graft_q(c))
  //   x >  ALL (q) -> x >  (SELECT max(c) ...)       (<=/>= likewise)
  //   x <  ANY (q) -> x <  (SELECT max(c) ...)
  //   x >  ANY (q) -> x >  (SELECT min(c) ...)       (SOME == ANY)
  //   x =  ANY (q) -> x IN (q)
  //   x <> ALL (q) -> x NOT IN (q)
  // `= ALL` / `<> ANY` would need the left operand duplicated (the
  // reference uses a count-based plan) — rejected with a clear error.
  // Caveat shared with the reference's min/max path: over an EMPTY
  // subquery the rewrite yields NULL (UNKNOWN) where strict SQL says
  // TRUE for ALL / FALSE for ANY.
  private val quantPattern: Regex = """(?i)(<=|>=|<>|!=|<|>|=)\s*(ALL|ANY|SOME)\s*\(""".r

  private def matchingParen(sql: String, open: Int): Int = {
    var depth = 0
    var i = open
    var inStr = false
    while (i < sql.length) {
      val c = sql(i)
      if (inStr) { if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true
        case '(' => depth += 1
        case ')' =>
          depth -= 1
          if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    throw new IllegalArgumentException(s"unbalanced parens after offset $open")
  }

  private def rewriteQuantified(sql: String): String = {
    val lit = literalMap(sql)
    quantPattern.findAllMatchIn(sql).find(m => !lit(m.start)) match {
      case None => sql
      case Some(m) =>
        val op = m.group(1)
        val quant = m.group(2).toUpperCase
        val isAll = quant == "ALL"
        val open = m.end - 1
        val close = matchingParen(sql, open)
        val sub = sql.substring(open + 1, close)
        val replaced = (op, isAll) match {
          case ("=", false) => s"IN ($sub)"
          case ("<>" | "!=", true) => s"NOT IN ($sub)"
          case ("<" | "<=", true) | (">" | ">=", false) =>
            s"$op (SELECT min(__graft_qc) FROM ($sub) AS __graft_q(__graft_qc))"
          case (">" | ">=", true) | ("<" | "<=", false) =>
            s"$op (SELECT max(__graft_qc) FROM ($sub) AS __graft_q(__graft_qc))"
          case _ =>
            throw new IllegalArgumentException(
              s"quantified comparison '$op $quant (...)' is not supported " +
                "(rewrite needs the left operand duplicated); use IN/NOT IN or min/max")
        }
        rewriteQuantified(sql.substring(0, m.start) + replaced + sql.substring(close + 1))
    }
  }

  private def literalMap(sql: String): Array[Boolean] = {
    val inLit = new Array[Boolean](sql.length)
    var i = 0
    var in = false
    while (i < sql.length) {
      if (sql(i) == '\'') {
        if (in && i + 1 < sql.length && sql(i + 1) == '\'') {
          inLit(i) = true; inLit(i + 1) = true; i += 1
        } else { in = !in; inLit(i) = true }
      } else inLit(i) = in
      i += 1
    }
    inLit
  }

  /** All dialect rewrites: quantified comparisons, then function/cast
    * renames.
    */
  // ---- AT TIME ZONE operator (SqlBase.g4 valueExpression #atTimeZone,
  // DesugarAtTimeZoneRewriter.java) — Spark has no operator syntax, so
  // the front door desugars `x AT TIME ZONE z` to at_timezone(x, z).
  // Operand coverage: TIMESTAMP literals, function calls with simple
  // args, and column/identifier chains (the forms Presto queries use);
  // the zone is a string literal or identifier. Matches starting inside
  // a string literal are left alone (TIMESTAMP-literal operands START
  // outside their quote, like the date_add unit in `rewrite`).
  private val atTimeZoneRe: Regex =
    ("""(?is)((?:TIMESTAMP\s+'[^']+')|(?:[\w.]+\s*\([^()]*\))|(?:[\w.]+))""" +
      """\s+AT\s+TIME\s+ZONE\s+('[^']*'|[\w.]+)""").r

  private def rewriteAtTimeZone(sql: String): String = {
    val lit = literalMap(sql)
    atTimeZoneRe.replaceAllIn(sql, m =>
      if (lit(m.start)) Regex.quoteReplacement(m.matched)
      else Regex.quoteReplacement(s"at_timezone(${m.group(1)}, ${m.group(2)})"))
  }

  // ---- DECIMAL 'x.y' literals (SqlBase.g4 #decimalLiteral,
  // type/DecimalParseResult via Decimals.parse: precision = total
  // digits, scale = fraction digits). Spark has no DECIMAL literal
  // keyword; rewrite to a CAST with the exact parsed precision/scale.
  private val decimalLitRe: Regex =
    """(?is)(?<![\w.])DECIMAL\s+'\s*([+-]?)(\d*)(?:\.(\d*))?\s*'""".r

  private def rewriteDecimalLiteral(sql: String): String = {
    val lit = literalMap(sql)
    decimalLitRe.replaceAllIn(sql, m =>
      if (lit(m.start)) Regex.quoteReplacement(m.matched)
      else {
        val sign = Option(m.group(1)).getOrElse("")
        val whole = Option(m.group(2)).getOrElse("")
        val frac = Option(m.group(3)).getOrElse("")
        require(whole.nonEmpty || frac.nonEmpty, s"Invalid decimal literal: ${m.matched}")
        val scale = frac.length
        // Decimals.parse (Decimals.java:101-118): leading zeros of the
        // integer part do NOT count toward precision; minimum 1
        val integral = whole.dropWhile(_ == '0')
        val precision = math.max(integral.length + scale, 1)
        require(precision <= 38, s"DECIMAL precision exceeds 38: ${m.matched}")
        Regex.quoteReplacement(
          s"CAST('$sign$whole${if (frac.nonEmpty) "." + frac else ""}' AS DECIMAL($precision,$scale))")
      })
  }

  // ---- ARRAY[...] constructors and [] subscripts ----
  //
  // Presto: ARRAY[1, 2] builds an array; expr[i] subscripts are 1-BASED
  // for arrays and key lookups for maps (ArraySubscriptOperator.java —
  // out-of-bounds ERRORS). Spark: no bracket constructor, and expr[i]
  // is getItem — 0-BASED. Left as-is, a Presto query like arr[1] would
  // SILENTLY return the second element. The front door therefore
  // rewrites (a) ARRAY[..] -> array(..) and (b) every remaining
  // subscript expr[s] -> presto_subscript(expr, s), a native expression
  // ([[graft.functions.PrestoSubscript]]) carrying the reference's
  // exact semantics: 1-based for arrays, by-key for maps, and ERRORS
  // for index 0 / negative / out-of-bounds / missing map key (Spark's
  // element_at returns NULL in all four positions under the default
  // non-ANSI session — a silent wrong-answer path, r8 ADVICE).

  /** Pass A: ARRAY[ .. ] -> array( .. ), balance-aware (inner subscript
    * brackets keep their own kind on the stack). */
  private def rewriteArrayConstructor(sql: String): String = {
    val lit = literalMap(sql)
    val sb = new StringBuilder
    val kinds = scala.collection.mutable.Stack[Boolean]() // true = constructor
    var i = 0
    while (i < sql.length) {
      val c = sql(i)
      if (!lit(i) && (c == 'A' || c == 'a') &&
          sql.regionMatches(true, i, "ARRAY", 0, 5) &&
          (i == 0 || !sql(i - 1).isLetterOrDigit && sql(i - 1) != '_' && sql(i - 1) != '.')) {
        var j = i + 5
        while (j < sql.length && sql(j).isWhitespace) j += 1
        if (j < sql.length && sql(j) == '[') {
          sb.append("array("); kinds.push(true); i = j + 1
        } else { sb.append(sql.substring(i, i + 5)); i += 5 }
      } else if (!lit(i) && c == '[') { kinds.push(false); sb.append(c); i += 1 }
      else if (!lit(i) && c == ']' && kinds.nonEmpty) {
        sb.append(if (kinds.pop()) ")" else "]"); i += 1
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Pass B: outermost-first expr[s] -> element_at(expr, s); iterate to
    * a fixpoint so chained/nested subscripts (a[1][2], a[b[1]]) resolve.
    * The operand is scanned backward over identifier chars and balanced
    * ()/[] groups (function calls, parenthesized expressions, inner
    * subscripts). */
  private def rewriteSubscripts(sql0: String): String = {
    var sql = sql0
    var changed = true
    var guard = 0
    while (changed && guard < 64) {
      changed = false; guard += 1
      val lit = literalMap(sql)
      // first '[' outside literals
      var open = -1
      var i = 0
      while (open < 0 && i < sql.length) {
        if (sql(i) == '[' && !lit(i)) open = i
        i += 1
      }
      if (open >= 0) {
        // operand start: walk backward over ws, then one chain of
        // identifier / () / [] groups
        var s = open - 1
        while (s >= 0 && sql(s).isWhitespace) s -= 1
        var start = -1
        var cont = true
        while (cont && s >= 0) {
          sql(s) match {
            case ')' | ']' =>
              val close = sql(s)
              val openCh = if (close == ')') '(' else '['
              var depth = 0
              var k = s
              while (k >= 0 && { val cc = sql(k)
                  if (cc == close && !lit(k)) depth += 1
                  else if (cc == openCh && !lit(k)) depth -= 1
                  depth != 0 }) k -= 1
              require(k >= 0, s"unbalanced brackets before subscript: $sql")
              s = k - 1; start = k
            case ch if ch.isLetterOrDigit || ch == '_' || ch == '.' =>
              var k = s
              while (k >= 0 && (sql(k).isLetterOrDigit || sql(k) == '_' || sql(k) == '.')) k -= 1
              start = k + 1; s = k
              cont = false // an identifier terminates the chain leftward
            case _ => cont = false
          }
          // a chain like f(x)[1] or a[1][2]: after a group, continue
          // only if the next char leftward extends the chain
          if (cont && s >= 0 && !(sql(s).isLetterOrDigit || sql(s) == '_' ||
              sql(s) == '.' || sql(s) == ')' || sql(s) == ']')) cont = false
        }
        require(start >= 0, s"subscript with no operand: $sql")
        // matching ']' forward
        var depth = 0
        var e = open
        while (e < sql.length && { val cc = sql(e)
            if (cc == '[' && !lit(e)) depth += 1
            else if (cc == ']' && !lit(e)) depth -= 1
            depth != 0 }) e += 1
        require(e < sql.length, s"unbalanced subscript bracket: $sql")
        val operand = sql.substring(start, open).trim
        val sub = sql.substring(open + 1, e)
        sql = sql.substring(0, start) + s"presto_subscript($operand, $sub)" + sql.substring(e + 1)
        changed = true
      }
    }
    // A statement with more subscripts than the fixpoint guard allows
    // must fail loudly: any '[' left outside literals would reach Spark
    // as a 0-BASED getItem — a silent off-by-one wrong answer (r8
    // ADVICE). 64 iterations is far beyond hand-written SQL; this is a
    // correctness backstop, not a limit users should meet.
    val lit = literalMap(sql)
    var r = 0
    while (r < sql.length) {
      require(sql(r) != '[' || lit(r),
        s"statement exceeds the subscript-rewrite budget (64); refusing to run with raw brackets: $sql")
      r += 1
    }
    sql
  }

  // ---- zoned TIMESTAMP literals (SqlBase.g4 #typeConstructor +
  // DateTimeUtils.parseTimestampWithTimeZone): TIMESTAMP '.. <zone>'
  // is a TIMESTAMP WITH TIME ZONE value — the wall clock interpreted in
  // the named zone. Maps onto the packed-tstz family's constructor
  // (TimestampTzFunctions.with_timezone), which carries the zone.
  private val zonedTsLitRe: Regex =
    ("""(?is)(?<![\w.])TIMESTAMP\s+'(\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}(?::\d{2}(?:\.\d+)?)?)""" +
      """\s+([A-Za-z][\w/_]*(?:[+-]\d{1,2}(?::\d{2})?)?|[+-]\d{2}:\d{2})'""").r

  private def rewriteZonedTimestampLiteral(sql: String): String = {
    val lit = literalMap(sql)
    zonedTsLitRe.replaceAllIn(sql, m =>
      if (lit(m.start)) Regex.quoteReplacement(m.matched)
      else Regex.quoteReplacement(
        s"with_timezone(TIMESTAMP '${m.group(1)}', '${m.group(2)}')"))
  }

  // ---- Presto type syntax in CAST targets (SqlBase.g4 `type`:
  // ARRAY(T) / MAP(K, V) / ROW(name T, ...) + base-type spellings) —
  // Spark wants ARRAY<T> / MAP<K, V> / STRUCT<name: T>. Applied only
  // where a type can appear: after `AS` with one of the three
  // constructor keywords.

  private def splitTopLevel(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var depth = 0
    var start = 0
    var i = 0
    while (i < s.length) {
      s(i) match {
        case '(' | '<' => depth += 1
        case ')' | '>' => depth -= 1
        case ',' if depth == 0 => out += s.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    out += s.substring(start)
    out.toSeq
  }

  /** Presto type expression -> Spark DDL type. */
  private def translateType(t0: String): String = {
    val s = t0.trim
    val u = s.toUpperCase
    def inner(prefix: Int): String = {
      val open = s.indexOf('(', prefix)
      s.substring(open + 1, s.lastIndexOf(')'))
    }
    if (u.startsWith("ARRAY") && s.contains("("))
      s"ARRAY<${translateType(inner(5))}>"
    else if (u.startsWith("MAP") && s.contains("(")) {
      val Seq(k, v) = splitTopLevel(inner(3)).map(translateType): @unchecked
      s"MAP<$k, $v>"
    } else if (u.startsWith("ROW") && s.contains("(")) {
      val fields = splitTopLevel(inner(3)).map { f =>
        val ft = f.trim
        val sp = ft.indexOf(' ')
        require(sp > 0, s"ROW field needs 'name type': $ft")
        s"${ft.substring(0, sp)}: ${translateType(ft.substring(sp + 1))}"
      }
      s"STRUCT<${fields.mkString(", ")}>"
    } else u match {
      case "VARCHAR" | "JSON" => "STRING"
      case v if v.startsWith("VARCHAR(") || v.startsWith("CHAR(") => "STRING"
      case "REAL" => "FLOAT"
      case "VARBINARY" => "BINARY"
      case _ => s
    }
  }

  private val castTypeRe: Regex = """(?is)\bAS\s+(ARRAY|MAP|ROW)\s*\(""".r

  private def rewriteCastTypes(sql0: String): String = {
    var sql = sql0
    var searchFrom = 0
    var guard = 0
    while (guard < 64) {
      guard += 1
      val lit = literalMap(sql)
      castTypeRe.findFirstMatchIn(sql.substring(searchFrom)) match {
        case None => return sql
        case Some(mm) =>
          val mStart = searchFrom + mm.start
          if (lit(mStart)) searchFrom = searchFrom + mm.end // inside a literal: skip
          else {
            // balanced close of the type expression
            var depth = 0
            var e = sql.indexOf('(', mStart)
            while (e < sql.length && { val c = sql(e)
                if (c == '(') depth += 1 else if (c == ')') depth -= 1
                depth != 0 }) e += 1
            require(e < sql.length, s"unbalanced type parentheses: $sql")
            val typeStart = mStart + mm.matched.toUpperCase.indexOf(mm.group(1).toUpperCase)
            sql = sql.substring(0, typeStart) +
              translateType(sql.substring(typeStart, e + 1)) + sql.substring(e + 1)
            searchFrom = 0
          }
      }
    }
    sql
  }

  def rewriteFull(text: String): String =
    rewrite(rewriteAtTimeZone(rewriteDecimalLiteral(rewriteZonedTimestampLiteral(
      rewriteCastTypes(rewriteSubscripts(rewriteArrayConstructor(rewriteQuantified(text))))))))

  // ---- PREPARE / EXECUTE / DEALLOCATE (reference: QueryPreparer.java;
  // SqlBase.g4 Prepare/Execute/Deallocate statements). The reference
  // stores prepared statements in session state and EXECUTE ... USING
  // binds positional `?` parameters. Same model here: statements are
  // per-session (weak, so dead sessions drop), and binding is textual
  // substitution of each `?` outside string literals with the matching
  // USING expression — Presto restricts parameters to literals, and so
  // does this shim (each bound text is parenthesized, never spliced as
  // raw syntax into an ambiguous position).
  private val prepared =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[String, String]]())

  private def stmtsOf(spark: SparkSession): scala.collection.mutable.Map[String, String] =
    prepared.synchronized {
      var m = prepared.get(spark)
      if (m == null) { m = scala.collection.mutable.Map.empty[String, String]; prepared.put(spark, m) }
      m
    }

  /** The session's prepared statement for `name` (lowercased), if any —
    * read-only view for EXECUTE queryType classification. */
  def preparedStatement(spark: SparkSession, name: String): Option[String] =
    stmtsOf(spark).get(name.toLowerCase)

  // ---- START TRANSACTION / COMMIT / ROLLBACK (reference: SqlBase.g4:
  // 34-98, StartTransactionTask/CommitTask/RollbackTask; isolation/
  // read-only modifiers accepted and — like most reference connectors —
  // treated as the one supported level, snapshot isolation) ----
  private val beginTxnRe = """(?is)\s*START\s+TRANSACTION\s*.*""".r
  private val commitTxnRe = """(?is)\s*COMMIT(\s+WORK)?\s*""".r
  private val rollbackTxnRe = """(?is)\s*ROLLBACK(\s+WORK)?\s*""".r

  private val prepareRe = """(?is)\s*PREPARE\s+(\w+)\s+FROM\s+(.+)""".r
  private val executeRe = """(?is)\s*EXECUTE\s+(\w+)\s*(?:USING\s+(.+))?""".r
  private val deallocRe = """(?is)\s*DEALLOCATE\s+(?:PREPARE\s+)?(\w+)\s*""".r
  // VERBOSE (SqlBase.g4:72 `EXPLAIN ANALYZE? VERBOSE?`) adds operator
  // detail in the reference; our analyzed plan text is already the
  // detailed form, so the keyword is accepted and absorbed.
  private val explainAnalyzeRe = """(?is)\s*EXPLAIN\s+ANALYZE(?:\s+VERBOSE)?\s+(.+)""".r
  // EXPLAIN (TYPE LOGICAL|DISTRIBUTED|VALIDATE|IO [, FORMAT TEXT|JSON]) q
  // — SqlBase.g4 explainOption, ExplainRewrite.java:91-140.
  private val explainOptsRe = """(?is)\s*EXPLAIN\s*\(\s*([^)]*?)\s*\)\s+(.+)""".r

  // ---- SET SESSION / RESET SESSION / SHOW SESSION (reference:
  // execution/SetSessionTask.java, ResetSessionTask.java,
  // SqlBase.g4 SetSession/ResetSession/ShowSession). Properties live in
  // per-session state; the two that have a direct Spark analog are
  // applied to the live conf (with the pre-set value remembered so
  // RESET restores it), the rest are inert key-value state — the same
  // split the reference makes between engine and connector properties.
  private val sessionProps =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, scala.collection.mutable.LinkedHashMap[String, String]]())
  private val savedConfs =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[String, String]]())

  private def propsOf(spark: SparkSession): scala.collection.mutable.LinkedHashMap[String, String] =
    sessionProps.synchronized {
      var m = sessionProps.get(spark)
      if (m == null) {
        m = scala.collection.mutable.LinkedHashMap.empty[String, String]
        sessionProps.put(spark, m)
      }
      m
    }

  private def savedOf(spark: SparkSession): scala.collection.mutable.Map[String, String] =
    savedConfs.synchronized {
      var m = savedConfs.get(spark)
      if (m == null) { m = scala.collection.mutable.Map.empty[String, String]; savedConfs.put(spark, m) }
      m
    }

  /** Presto session property -> Spark conf translation for the
    * properties with a real Spark analog (SystemSessionProperties.java
    * names). Returns Some(sparkKey, sparkValue). */
  private def toSparkConf(name: String, value: String): Option[(String, Option[String])] =
    name.toLowerCase match {
      case "hash_partition_count" =>
        Some("spark.sql.shuffle.partitions" -> Some(value))
      case "time_zone_id" =>
        // the session zone (reference: Session.getTimeZoneKey, built by
        // QuerySessionSupplier from X-Presto-Time-Zone,
        // PrestoHeaders.java:23; read throughout DateTimeFunctions.java).
        // The StatementServer translates the wire header into this
        // property, so the zone rides the existing overlay/restore
        // machinery and surfaces in SHOW SESSION. Spark analysis bakes
        // the zone into the plan (ResolveTimeZone), so concurrent
        // drains keep their own renderings after restore().
        Some("spark.sql.session.timeZone" -> Some(value))
      case "join_distribution_type" =>
        // PARTITIONED forbids broadcast joins; BROADCAST/AUTOMATIC keep
        // the stats-driven threshold — value None means "restore whatever
        // the session had before any SET" rather than clobbering a
        // user-tuned threshold with a constant.
        Some("spark.sql.autoBroadcastJoinThreshold" ->
          (if (value.equalsIgnoreCase("PARTITIONED")) Some("-1") else None))
      case _ => None
    }

  private def applySessionProp(spark: SparkSession, name: String, value: String): Unit =
    toSparkConf(name, value).foreach {
      case (k, Some(v)) =>
        val saved = savedOf(spark)
        if (!saved.contains(k)) saved(k) = spark.conf.get(k)
        spark.conf.set(k, v)
      case (k, None) =>
        // Back to the pre-SET value if one was saved; no-op otherwise.
        savedOf(spark).remove(k).foreach(orig => spark.conf.set(k, orig))
    }

  private def resetSessionProp(spark: SparkSession, name: String): Unit =
    toSparkConf(name, "").foreach { case (k, _) =>
      savedOf(spark).remove(k).foreach(orig => spark.conf.set(k, orig))
    }

  private def unquote(v: String): String = {
    val t = v.trim
    if (t.length >= 2 && t.head == '\'' && t.last == '\'')
      t.substring(1, t.length - 1).replace("''", "'")
    else t
  }

  private val setSessionRe = """(?is)\s*SET\s+SESSION\s+([\w.]+)\s*=\s*(.+)""".r
  private val resetSessionRe = """(?is)\s*RESET\s+SESSION\s+([\w.]+)\s*""".r
  private val showSessionRe = """(?is)\s*SHOW\s+SESSION\s*""".r

  // ---- GRANT / REVOKE / SHOW GRANTS (reference: SqlBase.g4:87-91,
  // GrantTask.java, RevokeTask.java; enforcement in AccessControl) ----
  private val grantRe =
    """(?is)\s*GRANT\s+(.+?)\s+ON\s+(?:TABLE\s+)?([\w.]+)\s+TO\s+(?:USER\s+|ROLE\s+)?(\w+)(\s+WITH\s+GRANT\s+OPTION)?\s*""".r
  private val revokeRe =
    """(?is)\s*REVOKE\s+(GRANT\s+OPTION\s+FOR\s+)?(.+?)\s+ON\s+(?:TABLE\s+)?([\w.]+)\s+FROM\s+(?:USER\s+|ROLE\s+)?(\w+)\s*""".r
  private val showGrantsRe =
    """(?is)\s*SHOW\s+GRANTS(?:\s+ON\s+(?:TABLE\s+)?([\w.]+))?\s*""".r
  private val setAuthRe =
    """(?is)\s*SET\s+SESSION\s+AUTHORIZATION\s+'?([\w]+)'?\s*""".r

  // ---- Metadata statements (reference: SqlBase.g4:71-87, shapes from
  // ShowQueriesRewrite.java / ShowStatsRewrite.java; implementation in
  // Metadata.scala) ----
  private val showTablesRe =
    """(?is)\s*SHOW\s+TABLES(?:\s+(?:FROM|IN)\s+([\w.]+))?(?:\s+LIKE\s+'([^']*)'(?:\s+ESCAPE\s+'([^']*)')?)?\s*""".r
  private val showSchemasRe =
    """(?is)\s*SHOW\s+SCHEMAS(?:\s+(?:FROM|IN)\s+[\w.]+)?(?:\s+LIKE\s+'([^']*)'(?:\s+ESCAPE\s+'([^']*)')?)?\s*""".r
  private val showCatalogsRe =
    """(?is)\s*SHOW\s+CATALOGS(?:\s+LIKE\s+'([^']*)')?\s*""".r
  private val showColumnsRe =
    """(?is)\s*(?:SHOW\s+COLUMNS\s+(?:FROM|IN)|DESCRIBE|DESC)\s+([\w.]+)\s*""".r
  // DESCRIBE INPUT/OUTPUT of a prepared statement (SqlBase.g4:96-97,
  // DescribeInputRewrite.java / DescribeOutputRewrite.java).
  private val describeInputRe = """(?is)\s*DESCRIBE\s+INPUT\s+(\w+)\s*""".r
  private val describeOutputRe = """(?is)\s*DESCRIBE\s+OUTPUT\s+(\w+)\s*""".r
  private val showCreateTableRe =
    """(?is)\s*SHOW\s+CREATE\s+TABLE\s+([\w.]+)\s*""".r
  private val showFunctionsRe = """(?is)\s*SHOW\s+FUNCTIONS\s*""".r
  private val showCreateViewRe =
    """(?is)\s*SHOW\s+CREATE\s+VIEW\s+([\w.]+)\s*""".r
  // CALL system.runtime.kill_query('id') — SqlBase.g4:61 #call,
  // KillQueryProcedure.java (the only system procedure in the
  // reference's global connector).
  private val killQueryRe =
    """(?is)\s*CALL\s+system\.runtime\.kill_query\s*\(\s*'([^']+)'\s*\)\s*""".r
  // USE schema | USE catalog.schema (SqlBase.g4:35-36, UseTask.java:
  // validates the schema exists, then sets the session default).
  private val useRe = """(?is)\s*USE\s+(?:(\w+)\.)?(\w+)\s*""".r
  // SET PATH (SqlBase.g4:98, SetPathTask.java): the SQL-path for
  // function resolution. Single-catalog engine with one function
  // registry -> recorded as a session property, semantically a no-op.
  private val setPathRe = """(?is)\s*SET\s+PATH\s+(.+?)\s*""".r
  // ALTER SCHEMA x RENAME TO y (SqlBase.g4:40): the reference's
  // RenameSchemaTask delegates to the connector, and its primary
  // connectors throw ("This connector does not support renaming
  // schemas") — same contract here, loudly rather than silently.
  private val renameSchemaRe =
    """(?is)\s*ALTER\s+SCHEMA\s+([\w.]+)\s+RENAME\s+TO\s+(\w+)\s*""".r
  // CREATE SCHEMA / DROP SCHEMA (SqlBase.g4:37-39; CreateSchemaTask.java
  // checks IF NOT EXISTS then metadata.createSchema, DropSchemaTask.java
  // refuses CASCADE and delegates the non-empty check). Schemas map onto
  // Spark session-catalog databases, so SHOW SCHEMAS / USE see them.
  private val createSchemaRe =
    """(?is)\s*CREATE\s+SCHEMA\s+(IF\s+NOT\s+EXISTS\s+)?(?:(\w+)\.)?(\w+)\s*""".r
  private val dropSchemaRe =
    """(?is)\s*DROP\s+SCHEMA\s+(IF\s+EXISTS\s+)?(?:(\w+)\.)?(\w+)\s*(RESTRICT|CASCADE)?\s*""".r
  // ALTER TABLE family (SqlBase.g4:52-58; RenameTableTask.java,
  // RenameColumnTask.java, DropColumnTask.java, AddColumnTask.java).
  // graft tables are session temp views, so each alter re-registers the
  // view with the transformed projection — metadata-only, zero data I/O,
  // exactly the reference's metadata-operation contract.
  private val alterRenameTableRe =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+RENAME\s+TO\s+([\w.]+)\s*""".r
  private val alterRenameColRe =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)\s*""".r
  private val alterDropColRe =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+COLUMN\s+(\w+)\s*""".r
  private val alterAddColRe =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+ADD\s+COLUMN\s+(\w+)\s+(\w+(?:\(\s*\d+\s*(?:,\s*\d+\s*)?\))?)\s*""".r

  /** Presto type name -> Spark DDL type (ALTER ADD COLUMN surface). */
  private def prestoType(t: String): String = t.trim.toLowerCase match {
    case "varchar" => "string"
    case s if s.startsWith("varchar(") || s.startsWith("char(") => "string"
    case "real" => "float"
    case "integer" => "int"
    case "varbinary" => "binary"
    case other => other // bigint, double, boolean, date, timestamp, decimal(p,s), ...
  }
  private val showStatsTableRe =
    """(?is)\s*SHOW\s+STATS\s+FOR\s+([\w.]+)\s*""".r
  private val showStatsQueryRe =
    """(?is)\s*SHOW\s+STATS\s+FOR\s*\(\s*SELECT\s+\*\s+FROM\s+([\w.]+)(?:\s+WHERE\s+(.+?))?\s*\)\s*""".r

  /** Split `USING a, b, c` argument text on top-level commas (string
    * literals and parens respected).
    */
  private def splitArgs(text: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0
    var inStr = false
    var start = 0
    var i = 0
    while (i < text.length) {
      val c = text(i)
      if (inStr) { if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 => out += text.substring(start, i).trim; start = i + 1
        case _ =>
      }
      i += 1
    }
    out += text.substring(start).trim
    out.toSeq
  }

  /** Substitute each positional `?` outside string literals. */
  private def bindParams(query: String, args: Seq[String]): String = {
    val lit = literalMap(query)
    val sb = new StringBuilder
    var next = 0
    var i = 0
    while (i < query.length) {
      if (query(i) == '?' && !lit(i)) {
        require(next < args.length,
          s"Incorrect number of parameters: statement has more than ${args.length}")
        sb.append('(').append(args(next)).append(')')
        next += 1
      } else sb.append(query(i))
      i += 1
    }
    require(next == args.length,
      s"Incorrect number of parameters: expected $next but found ${args.length}")
    sb.toString
  }

  // ---- client-carried session state (HTTP statement protocol) ----
  //
  // The reference keeps NO session state server-side for protocol
  // clients: the client echoes back what the server told it via
  // headers (presto-client/.../PrestoHeaders.java:26-35 —
  // X-Presto-Session / X-Presto-Prepared-Statement /
  // X-Presto-Transaction-Id on requests; Set-Session / Clear-Session /
  // Added-Prepare / Deallocated-Prepare / Started-Transaction-Id /
  // Clear-Transaction-Id on responses; consumed by
  // StatementClient.processResponse, produced per-statement by
  // StatementResource/QuerySessionSupplier). `clientStatement` is that
  // contract over the one shared SparkSession.
  //
  // Concurrency model (one SQLConf per SparkSession, many protocol
  // clients). `clientStateLock` is a shared/exclusive lock over the
  // statement's synchronous part (overlay -> analysis and eager
  // execution -> response headers); the reference builds a fresh Session
  // per request (QuerySessionSupplier), so only statements that touch
  // the shared session state need the exclusive side:
  //
  //  - EXCLUSIVE: every statement that carries client state (an
  //    X-Presto-Session / Prepared-Statement / Transaction-Id / Catalog /
  //    Schema / Time-Zone / Language header), that has per-user
  //    SessionDefaults (applied to the shared conf), or that runs while a
  //    transaction is active; and every SET, RESET, PREPARE, DEALLOCATE,
  //    USE, START TRANSACTION, COMMIT, ROLLBACK, EXECUTE, CTAS, other
  //    DDL, DELETE, EXPLAIN, system-table read, or unclassifiable text.
  //    Two such statements never interleave their overlay windows; the
  //    response headers come from the statement's own RECORDED effects
  //    (the SET/RESET/PREPARE/DEALLOCATE handlers report what they did
  //    via a thread-local recorder), never from diffing the shared maps,
  //    so one client's headers can never carry another client's state.
  //    `restore()` runs after the result drain (session props span
  //    execution, like the reference's session lifetime) and is
  //    TARGETED: it reverts only the keys THIS statement touched, and
  //    only if they still hold the value this statement left (a later
  //    writer wins). Same-key overlays with overlapping drain windows
  //    ride per-key value stacks (`overlayStacks`): a restorer
  //    reinstates the most recent still-live overlay, or, last one out,
  //    the true pre-overlay server default, never another client's
  //    transient.
  //  - SHARED, plain reads: SELECT / WITH / VALUES / SHOW / DESCRIBE with
  //    none of the above. They touch no client state, so their
  //    `restore()` only ends the statement (`finish`), without the lock.
  //  - SHARED, appends (INSERT INTO t ...): they also hold `appendLock`
  //    exclusively across their whole eager execution (analysis, commit,
  //    refreshTable), so commits stay one at a time.
  //
  // A plain read holds `appendLock` shared during its analysis unless
  // every relation its parsed plan names is a temp view over files only
  // (the fixture tables). A catalog table's relation is cached at
  // analysis, and Spark's relation cache drops an invalidate that
  // arrives while a load is running: a read analyzing mid-commit could
  // list half a batch or cache the pre-commit file list for good.

  final case class ClientStatementResult(
      df: DataFrame,
      setSession: Seq[(String, String)],
      clearSession: Seq[String],
      addedPrepare: Seq[(String, String)],
      deallocatedPrepare: Seq[String],
      startedTransactionId: Option[String],
      clearTransactionId: Boolean,
      setCatalog: Option[String],
      setSchema: Option[String],
      restore: () => Unit)

  private val clientStateLock = new java.util.concurrent.locks.ReentrantReadWriteLock()
  private val appendLock = new java.util.concurrent.locks.ReentrantReadWriteLock()

  /** How a statement shares the client-state window (see above). */
  private sealed trait Window
  private case object Exclusive extends Window
  private final case class Read(appendShared: Boolean) extends Window
  private case object Append extends Window

  private val insertIntoRe = """(?is)\s*INSERT\s+INTO\s.*""".r

  /** The window of a statement that carries no client-state header; run
    * under the shared lock. */
  private def windowOf(spark: SparkSession, text: String, user: String,
      source: String): Window = {
    val effectiveUser = Option(user).getOrElse(AccessControl.principal(spark))
    if (SessionDefaults.defaultsFor(spark, effectiveUser, source).nonEmpty ||
        graft.operators.TransactionOps.activeTransaction(spark).nonEmpty) Exclusive
    else ResourceGroups.queryTypeOf(text) match {
      case Some("INSERT") if insertIntoRe.matches(text) => Append
      case Some(kind @ ("SELECT" | "DESCRIBE"))
          if !SystemTables.referencesSystemTables(text) => readWindow(spark, text, kind)
      case _ => Exclusive
    }
  }

  /** A read needs the append lock unless every relation it names is a
    * temp view over files; a read whose text hides a write is exclusive. */
  private def readWindow(spark: SparkSession, text: String, kind: String): Window = text match {
    case showTablesRe(_, _, _) | showSchemasRe(_, _) | showCatalogsRe(_) |
        showFunctionsRe() | showSessionRe() => Read(appendShared = false)
    case showColumnsRe(table) => Read(!filesOnlyTempView(spark, table))
    case _ if kind == "DESCRIBE" => Read(appendShared = true)
    case _ =>
      import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
      import org.apache.spark.sql.catalyst.plans.logical.{Command, InsertIntoStatement, UnresolvedWith}
      scala.util.Try(spark.sessionState.sqlParser.parsePlan(rewriteFull(text))).toOption match {
        case None => Read(appendShared = true)
        case Some(plan) =>
          val nodes = plan.collectWithSubqueries { case p => p }
          if (nodes.exists { case _: Command | _: InsertIntoStatement => true; case _ => false })
            Exclusive
          else Read(nodes.exists {
            case _: UnresolvedWith => true
            case r: UnresolvedRelation =>
              r.multipartIdentifier.length != 1 ||
                !filesOnlyTempView(spark, r.multipartIdentifier.head)
            case _ => false
          })
      }
  }

  /** A temp view whose plan reads only files (no catalog table). */
  private def filesOnlyTempView(spark: SparkSession, name: String): Boolean = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    spark.sessionState.catalog.getTempView(name).exists(_.child.collectLeaves().forall {
      case l: LogicalRelation => l.catalogTable.isEmpty && l.relation.isInstanceOf[HadoopFsRelation]
      case _ => false
    })
  }

  // Per-key overlay value stacks: when two clients overlay the SAME
  // session key with overlapping drain windows, the FIRST overlayer's
  // pre-overlay value is the true server default, and a later
  // statement's savedProps snapshot sees the first client's TRANSIENT.
  // Each overlay pushes its value; each restore removes its own value —
  // if other overlays are still live, the most recent of THEIR values
  // is reinstated, and the last one out restores the original. This
  // closes the residue the pre-r12 comment documented, which a
  // zone-carrying header turns from cosmetic into wrong answers (a
  // polluted session zone changes every later client's renderings).
  // Mutated only under clientStateLock's exclusive side.
  private val overlayStacks =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[
        String, (Option[String], scala.collection.mutable.ArrayBuffer[String])]]())

  private def overlayStacksOf(spark: SparkSession) =
    overlayStacks.synchronized {
      var m = overlayStacks.get(spark)
      if (m == null) {
        m = scala.collection.mutable.Map.empty[
          String, (Option[String], scala.collection.mutable.ArrayBuffer[String])]
        overlayStacks.put(spark, m)
      }
      m
    }

  /** Session-state changes a statement performs, reported by the
    * handlers themselves (SetSessionTask and friends know exactly what
    * they changed — the reference builds its response headers from the
    * QueryStateMachine's recorded setSessionProperties/addedPrepare,
    * not by diffing session maps). Recording is active only inside
    * clientStatement's window. */
  private final class Effects {
    val setProps = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val resetProps = scala.collection.mutable.LinkedHashSet.empty[String]
    val addedStmts = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val removedStmts = scala.collection.mutable.LinkedHashSet.empty[String]
    // USE [catalog.]schema (UseTask.java sets the session catalog/schema;
    // StatementResource.java:216-217 answers Set-Catalog/Set-Schema)
    var useCatalog: Option[String] = None
    var useSchema: Option[String] = None
  }
  private val recording = new ThreadLocal[Effects]()
  private def recordSet(k: String, v: String): Unit = {
    val e = recording.get(); if (e != null) { e.setProps.put(k, v); e.resetProps -= k }
  }
  private def recordReset(k: String): Unit = {
    val e = recording.get(); if (e != null) { e.setProps.remove(k); e.resetProps += k }
  }
  private def recordPrepare(n: String, s: String): Unit = {
    val e = recording.get(); if (e != null) { e.addedStmts.put(n, s); e.removedStmts -= n }
  }
  private def recordDealloc(n: String): Unit = {
    val e = recording.get(); if (e != null) { e.addedStmts.remove(n); e.removedStmts += n }
  }

  def clientStatement(spark: SparkSession, text: String, queryId: String,
      created: Long, headerProps: Seq[(String, String)],
      headerStmts: Seq[(String, String)],
      headerTxn: Option[String],
      source: String = "http",
      user: String = null,
      headerCatalog: Option[String] = None,
      headerSchema: Option[String] = None): ClientStatementResult = {
    val carriesState = headerProps.nonEmpty || headerStmts.nonEmpty ||
      headerTxn.nonEmpty || headerCatalog.nonEmpty || headerSchema.nonEmpty
    if (!carriesState) {
      val shared = clientStateLock.readLock()
      shared.lock()
      try {
        // classified under the shared lock: no exclusive statement can
        // begin a transaction or redefine a temp view meanwhile
        val window = windowOf(spark, text, user, source)
        if (window != Exclusive) {
          val append = window match {
            case Append => Some(appendLock.writeLock())
            case Read(true) => Some(appendLock.readLock())
            case _ => None
          }
          append.foreach(_.lock())
          try {
            val (df, finish) = sqlWithIdDeferred(spark, text, queryId, created, source, user)
            return ClientStatementResult(df, Nil, Nil, Nil, Nil, None,
              clearTransactionId = false, None, None, restore = finish)
          } finally append.foreach(_.unlock())
        }
      } finally shared.unlock()
    }
    exclusiveStatement(spark, text, queryId, created, headerProps, headerStmts,
      headerTxn, source, user, headerCatalog, headerSchema)
  }

  private def exclusiveStatement(spark: SparkSession, text: String, queryId: String,
      created: Long, headerProps: Seq[(String, String)],
      headerStmts: Seq[(String, String)], headerTxn: Option[String], source: String,
      user: String, headerCatalog: Option[String],
      headerSchema: Option[String]): ClientStatementResult = {
    val props = propsOf(spark)
    val stmts = stmtsOf(spark)
    val exclusive = clientStateLock.writeLock()
    exclusive.lock()
    try {
      val savedProps = props.toMap
      val savedStmts = stmts.toMap
      val savedDb = spark.catalog.currentDatabase
      // Dedupe by key, LAST occurrence wins (matching put-in-order
      // semantics): a statement carrying the same key twice — e.g. an
      // X-Presto-Time-Zone header plus the echoed X-Presto-Session
      // time_zone_id from an earlier SET — must push exactly ONE stack
      // entry, or restore's single pop would leave a permanent ghost
      // overlay pinning the shared conf.
      val overlayProps = headerProps.map { case (k, v) => (k.toLowerCase, v) }
        .foldLeft(scala.collection.immutable.ListMap.empty[String, String]) {
          case (m, (k, v)) => m - k + (k -> v)
        }.toSeq
      val overlayStmts = headerStmts.map { case (n, s) => (n.toLowerCase, s) }
      val od = overlayStacksOf(spark)

      /** Remove this statement's overlay entry for `k` (value `v`) from
        * the key's stack and reinstate what should now be visible: the
        * most recent still-live overlay, or — last one out — the FIRST
        * overlayer's pre-overlay value. Both reinstatements honor
        * later-writer-wins: if the key no longer holds `expect`, a
        * concurrent SET took over and is left untouched (only the stack
        * bookkeeping is unwound). `applyFn` tolerates a poisoned value
        * so a failed overlay can never wedge another statement's
        * restore. */
      def overlayPop(k: String, v: String, expect: Option[String]): Unit = {
        def applyQuietly(value: Option[String]): Unit =
          try value match {
            case Some(o) => applySessionProp(spark, k, o)
            case None => resetSessionProp(spark, k)
          } catch { case _: Exception => () }
        od.get(k).foreach { case (orig, stack) =>
          val idx = stack.lastIndexOf(v)
          if (idx >= 0) stack.remove(idx)
          if (stack.isEmpty) {
            od.remove(k)
            if (props.get(k) == expect) {
              orig match {
                case Some(o) => props.put(k, o)
                case None => props.remove(k)
              }
              applyQuietly(orig)
            }
          } else if (props.get(k) == expect) {
            val top = stack.last
            props.put(k, top)
            applyQuietly(Some(top))
          }
        }
      }

      // client-carried catalog/schema VALIDATION (PrestoHeaders.java:
      // 20-21 — QuerySessionSupplier builds the session's default schema
      // from these; single-catalog engine, so catalog only validates).
      // This MUST precede the overlay push: a require() failure after the
      // push but outside its rollback would permanently leak every pushed
      // conf (e.g. the client's time zone) and leave a ghost stack entry
      // that later restores would keep reinstating.
      headerCatalog.foreach(c =>
        require(Seq("graft", "spark_catalog").contains(c.toLowerCase),
          s"Catalog does not exist: $c"))
      headerSchema.foreach(sch =>
        require(spark.catalog.databaseExists(sch), s"Schema does not exist: $sch"))

      // Push + apply, rolling back EVERY pushed entry — and every other
      // pre-execution mutation (prepared-statement puts, the schema
      // switch) — if anything throws (e.g. an invalid zone id smuggled
      // through X-Presto-Session, which bypasses the server's header
      // validation): a failed request must leave no stack entry, no
      // props residue, no half-applied conf, and no stale database.
      val pushed = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      try {
        overlayProps.foreach { case (k, v) =>
          od.get(k) match {
            case Some((_, stack)) => stack += v
            case None =>
              od(k) = (props.get(k), scala.collection.mutable.ArrayBuffer(v))
          }
          props.put(k, v)
          pushed += ((k, v))
          applySessionProp(spark, k, v)
        }
        overlayStmts.foreach { case (n, s) => stmts.put(n, s) }
        headerSchema.foreach(sch => spark.catalog.setCurrentDatabase(sch))
      } catch {
        case t: Throwable =>
          pushed.reverseIterator.foreach { case (k, v) => overlayPop(k, v, Some(v)) }
          overlayStmts.foreach { case (n, _) =>
            savedStmts.get(n) match {
              case Some(orig) => stmts.put(n, orig)
              case None => stmts.remove(n)
            }
          }
          if (spark.catalog.currentDatabase != savedDb)
            try spark.catalog.setCurrentDatabase(savedDb)
            catch { case _: Exception => () }
          throw t
      }
      val eff = new Effects
      recording.set(eff)

      /** Revert exactly the keys this statement touched (header overlay
        * + recorded effects), each only if it still holds the value this
        * statement left — concurrent later writers win. Must run under
        * clientStateLock's exclusive side. */
      def restoreLocked(): Unit = {
        val overlayMap = overlayProps.toMap
        val touchedProps =
          overlayMap.keySet ++ eff.setProps.keySet ++ eff.resetProps
        touchedProps.foreach { k =>
          val left: Option[String] =
            eff.setProps.get(k).orElse(
              if (eff.resetProps.contains(k)) None else overlayMap.get(k))
          if (overlayMap.contains(k)) {
            // exit the shared overlay window: remove THIS statement's
            // value from the key's stack; reinstate the most recent
            // still-live overlay if one remains, else the FIRST
            // overlayer's pre-overlay value (the true server default —
            // a later statement's savedProps snapshot would see an
            // earlier client's transient). Later-writer-wins: the key
            // is only rewritten if it still holds the value THIS
            // statement left (a racing front-door SET keeps its value;
            // the stack bookkeeping still unwinds).
            if (od.contains(k)) overlayPop(k, overlayMap(k), left)
            else if (props.get(k) == left) savedProps.get(k) match {
              // stack lost (teardown): legacy value-check path
              case Some(orig) => props.put(k, orig); applySessionProp(spark, k, orig)
              case None => props.remove(k); resetSessionProp(spark, k)
            }
          } else if (props.get(k) == left) savedProps.get(k) match {
            case Some(orig) => props.put(k, orig); applySessionProp(spark, k, orig)
            case None => props.remove(k); resetSessionProp(spark, k)
          }
        }
        val overlayStmtMap = overlayStmts.toMap
        val touchedStmts =
          overlayStmtMap.keySet ++ eff.addedStmts.keySet ++ eff.removedStmts
        touchedStmts.foreach { n =>
          val left: Option[String] =
            eff.addedStmts.get(n).orElse(
              if (eff.removedStmts.contains(n)) None else overlayStmtMap.get(n))
          if (stmts.get(n) == left) savedStmts.get(n) match {
            case Some(orig) => stmts.put(n, orig)
            case None => stmts.remove(n)
          }
        }
        // schema: revert only if the current database is still the one
        // this statement left (header overlay or its own USE)
        eff.useSchema.orElse(headerSchema).foreach { left =>
          if (spark.catalog.currentDatabase == left && left != savedDb)
            spark.catalog.setCurrentDatabase(savedDb)
        }
      }

      try {
        val activeBefore =
          graft.operators.TransactionOps.activeTransaction(spark).map(_._1)
        headerTxn.filterNot(_.equalsIgnoreCase("NONE")).foreach { tid =>
          require(activeBefore.contains(tid), s"Unknown transaction ID: $tid")
        }
        val (df, finish) =
          sqlWithIdDeferred(spark, text, queryId, created, source, user)
        val activeAfter =
          graft.operators.TransactionOps.activeTransaction(spark).map(_._1)
        ClientStatementResult(df,
          setSession = eff.setProps.toSeq,
          clearSession = eff.resetProps.toSeq.sorted,
          addedPrepare = eff.addedStmts.toSeq,
          deallocatedPrepare = eff.removedStmts.toSeq.sorted,
          startedTransactionId = activeAfter.filterNot(activeBefore.contains),
          clearTransactionId = activeBefore.nonEmpty && activeAfter.isEmpty,
          setCatalog = eff.useCatalog,
          setSchema = eff.useSchema,
          restore = () => {
            exclusive.lock()
            try restoreLocked() finally exclusive.unlock()
            finish()
          })
      } catch {
        case t: Throwable => restoreLocked(); throw t
      } finally recording.remove()
    } finally exclusive.unlock()
  }

  /** Run Presto-dialect SQL on the graft engine (including the prepared-
    * statement surface: PREPARE name FROM q / EXECUTE name [USING ...] /
    * DEALLOCATE PREPARE name).
    */
  def sql(spark: SparkSession, text: String): DataFrame = {
    val created = System.currentTimeMillis()
    sqlWithId(spark, text, SystemTables.newQueryId(created), created)
  }

  /** [[sql]] with a caller-assigned query id — the HTTP protocol server
    * pre-assigns the id (it must appear in the POST response before
    * planning finishes) and then drives the statement through the same
    * front door, so HTTP-submitted queries land in the same query log,
    * job group, and kill path as direct calls. */
  def sqlWithId(spark: SparkSession, text: String, queryId: String,
      created: Long, source: String = "graft"): DataFrame = {
    val (df, finish) = sqlWithIdDeferred(spark, text, queryId, created, source, null)
    // synchronous front door: the statement's window ends here, so
    // defaults apply to analysis + eager execution (documented delta:
    // an action a direct caller later runs on the returned lazy frame
    // falls outside the defaults window; the HTTP path defers `finish`
    // past the drain and gets the reference's full-lifetime semantics)
    finish()
    df
  }

  /** [[sqlWithId]] with the end-of-statement work split out: `finish`
    * reverts session-property DEFAULTS and disarms per-query limits, and
    * must run when the statement's lifetime ends — immediately for the
    * synchronous front door, AFTER the result drain for the HTTP server,
    * so a default like hash_partition_count genuinely shapes execution
    * (QuerySessionSupplier applies defaults for the query's whole life).
    * `user` (nullable) is the client-carried identity (X-Presto-User):
    * it drives resource-group selection, session defaults, ACL checks,
    * and the query log's user column for this statement. */
  private[sql] def sqlWithIdDeferred(spark: SparkSession, text: String,
      queryId: String, created: Long, source: String,
      user: String): (DataFrame, () => Unit) = {
    val effectiveUser = Option(user).getOrElse(AccessControl.principal(spark))
    // session property defaults (presto-session-property-managers):
    // merged UNDER explicit session properties — only keys the session
    // has not SET get their Spark-conf analogs applied, and only for
    // this statement's window. Computed before admission: the merged
    // query_priority drives promotion order in query_priority groups.
    val defaults = SessionDefaults.defaultsFor(spark, effectiveUser, source)
      .filterNot { case (k, _) => propsOf(spark).contains(k.toLowerCase) }
    val priority = propsOf(spark).get("query_priority")
      .orElse(defaults.collectFirst { case ("query_priority", v) => v })
      .flatMap(_.toIntOption).getOrElse(1)
    // resource-group admission (no-op unless ResourceGroups.configure
    // installed a tree; reentrant under the HTTP worker's outer permit):
    // blocks QUEUED until the group has a slot, rejects at maxQueued —
    // the reference submits every query through
    // InternalResourceGroupManager the same way. The front door is a
    // synchronous planner, so its slot spans the statement's eager work;
    // the HTTP server holds its permit until the result is drained.
    // queryType rides embedded statements too (typed selectors must
    // route the same SQL identically whether it arrives over HTTP or
    // the embedded front door); EXECUTE resolves through the session's
    // prepared-statement map. No wire headers here, so estimates stay
    // empty — estimate-constrained selectors correctly never match.
    val qType = ResourceGroups.queryTypeOf(text,
      name => stmtsOf(spark).get(name))
    val permit = ResourceGroups.acquire(spark, effectiveUser, source,
      onQueued = () => SystemTables.record(spark, queryId, text, "QUEUED",
        created, source, effectiveUser), priority = priority,
      queryType = qType)
    defaults.foreach { case (k, v) => applySessionProp(spark, k, v) }
    // per-query kill ceilings from the merged property view (explicit
    // over defaults) — armed for the statement's whole lifetime
    val disarm = QueryLimits.arm(spark, queryId, created,
      defaults.toMap ++ propsOf(spark))
    val finish: () => Unit = () => {
      // keys the statement itself SET keep their conf analog — the
      // explicit value took over the default's slot
      defaults.foreach { case (k, _) =>
        if (!propsOf(spark).contains(k.toLowerCase)) resetSessionProp(spark, k)
      }
      disarm()
    }
    val prevSource = currentSource.get()
    currentSource.set(source)
    try {
      // tag the calling thread so every job this statement runs (now for
      // eager control statements, later for actions on the returned lazy
      // frame — job groups are sticky thread-locals) is cancellable by
      // CALL system.runtime.kill_query(queryId)
      spark.sparkContext.setJobGroup(queryId, text.take(200), interruptOnCancel = true)
      val out = AccessControl.withUser(user)(sqlImpl(spark, text))
      // the front door plans synchronously; completion here = the
      // reference's FINISHED for control statements (SystemTables doc)
      SystemTables.record(spark, queryId, text, "FINISHED", created, source, effectiveUser)
      (out, finish)
    } catch {
      case e: Throwable =>
        SystemTables.record(spark, queryId, text, "FAILED", created, source, effectiveUser)
        finish()
        throw e
    } finally {
      currentSource.set(prevSource)
      permit.release()
    }
  }

  // The source of the statement currently planning on this thread —
  // lets SHOW SESSION (inside sqlImpl) merge the right per-source
  // defaults without threading the parameter through every branch.
  private val currentSource = new ThreadLocal[String] {
    override def initialValue(): String = "graft"
  }

  private def sqlImpl(spark: SparkSession, text: String): DataFrame = {
    import spark.implicits._
    text match {
      case explainAnalyzeRe(query) =>
        // ExplainAnalyzeOperator.java surface: run the statement, return
        // the runtime-metric-annotated plan as a one-row result.
        val (planText, _) = ExplainAnalyze.analyze(spark.sql(rewriteFull(query)))
        Seq(planText).toDF("plan")
      case explainOptsRe(opts, query) =>
        val o = opts.toUpperCase.split(',').map(_.trim).filter(_.nonEmpty)
        val planType = o.collectFirst { case s if s.startsWith("TYPE") => s.drop(4).trim }
          .getOrElse("LOGICAL")
        val format = o.collectFirst { case s if s.startsWith("FORMAT") => s.drop(6).trim }
          .getOrElse("TEXT")
        Metadata.explainTyped(spark, rewriteFull(query), planType, format)
      case setAuthRe(user) =>
        AccessControl.setPrincipal(spark, user)
        Seq("SET SESSION AUTHORIZATION").toDF("result")
      case grantRe(privs, table, grantee, grantOpt) =>
        AccessControl.grant(spark, privs, table, grantee, grantOpt != null)
        Seq("GRANT").toDF("result")
      case revokeRe(optOnly, privs, table, grantee) =>
        AccessControl.revoke(spark, privs, table, grantee, optOnly != null)
        Seq("REVOKE").toDF("result")
      case showGrantsRe(table) =>
        AccessControl.grants(spark, Option(table))
          .map(g => (g.grantee, g.table, g.privilege, g.grantable))
          .toDF("grantee", "table_name", "privilege_type", "is_grantable")
      case setSessionRe(name, value) =>
        val v = unquote(value)
        propsOf(spark).put(name.toLowerCase, v)
        applySessionProp(spark, name, v)
        recordSet(name.toLowerCase, v)
        Seq("SET SESSION").toDF("result")
      case resetSessionRe(name) =>
        propsOf(spark).remove(name.toLowerCase)
        resetSessionProp(spark, name)
        recordReset(name.toLowerCase)
        Seq("RESET SESSION").toDF("result")
      case showSessionRe() =>
        // configured defaults surface here, under explicit SET SESSION
        // values (QuerySessionSupplier's merge order)
        val defaults = SessionDefaults.defaultsFor(spark,
          AccessControl.principal(spark), currentSource.get())
        (defaults.filterNot { case (k, _) => propsOf(spark).contains(k) } ++
          propsOf(spark).toSeq).toDF("name", "value")
      case showStatsQueryRe(table, where) =>
        AccessControl.enforce(spark, s"SELECT * FROM $table")
        Metadata.showStats(spark, table, Option(where).map(rewriteFull))
      case showStatsTableRe(table) =>
        AccessControl.enforce(spark, s"SELECT * FROM $table")
        Metadata.showStats(spark, table, None)
      case showCreateTableRe(table) =>
        Metadata.showCreateTable(spark, table)
      case showCreateViewRe(view) =>
        // views and tables share the temp-view carrier; same renderer
        Metadata.showCreateTable(spark, view)
      case killQueryRe(queryId) =>
        SystemTables.killQuery(spark, queryId)
        Seq("CALL").toDF("result")
      case renameSchemaRe(_, _) =>
        throw new UnsupportedOperationException(
          "This connector does not support renaming schemas")
      case createSchemaRe(ifNotExists, catalog, schema) =>
        if (catalog != null)
          require(Seq("graft", "spark_catalog").contains(catalog.toLowerCase),
            s"Catalog does not exist: $catalog")
        // CreateSchemaTask.java: without IF NOT EXISTS an existing
        // schema is "Schema already exists"
        if (spark.catalog.databaseExists(schema)) {
          if (ifNotExists == null)
            throw new IllegalArgumentException(s"Schema already exists: $schema")
        } else spark.sql(s"CREATE DATABASE `$schema`")
        Seq("CREATE SCHEMA").toDF("result")
      case dropSchemaRe(ifExists, catalog, schema, mode) =>
        if (catalog != null)
          require(Seq("graft", "spark_catalog").contains(catalog.toLowerCase),
            s"Catalog does not exist: $catalog")
        // DropSchemaTask.java: CASCADE is "not yet supported"; missing
        // schema without IF EXISTS is "Schema does not exist"
        if (mode != null && mode.equalsIgnoreCase("CASCADE"))
          throw new UnsupportedOperationException("CASCADE is not yet supported for DROP SCHEMA")
        if (!spark.catalog.databaseExists(schema)) {
          if (ifExists == null)
            throw new IllegalArgumentException(s"Schema does not exist: $schema")
        } else spark.sql(s"DROP DATABASE `$schema`")
        Seq("DROP SCHEMA").toDF("result")
      case setPathRe(path) =>
        propsOf(spark).put("path", path.trim)
        recordSet("path", path.trim)
        Seq("SET PATH").toDF("result")
      case useRe(catalog, schema) =>
        if (catalog != null)
          require(Seq("graft", "spark_catalog").contains(catalog.toLowerCase),
            s"Catalog does not exist: $catalog")
        require(spark.catalog.databaseExists(schema),
          s"Schema does not exist: $schema")
        spark.catalog.setCurrentDatabase(schema)
        val e = recording.get()
        if (e != null) {
          if (catalog != null) e.useCatalog = Some(catalog.toLowerCase)
          e.useSchema = Some(schema)
        }
        Seq("USE").toDF("result")
      case alterRenameTableRe(from, to) =>
        val df = spark.table(from)
        df.createOrReplaceTempView(to)
        spark.catalog.dropTempView(from)
        Seq("RENAME TABLE").toDF("result")
      case alterRenameColRe(table, from, to) =>
        spark.table(table).withColumnRenamed(from, to)
          .createOrReplaceTempView(table)
        Seq("RENAME COLUMN").toDF("result")
      case alterDropColRe(table, colName) =>
        val df = spark.table(table)
        require(df.columns.map(_.toLowerCase).contains(colName.toLowerCase),
          s"Column '$colName' does not exist")
        df.drop(colName).createOrReplaceTempView(table)
        Seq("DROP COLUMN").toDF("result")
      case alterAddColRe(table, colName, typ) =>
        val df = spark.table(table)
        require(!df.columns.map(_.toLowerCase).contains(colName.toLowerCase),
          s"Column '$colName' already exists")
        df.withColumn(colName,
            org.apache.spark.sql.functions.lit(null).cast(prestoType(typ)))
          .createOrReplaceTempView(table)
        Seq("ADD COLUMN").toDF("result")
      case describeInputRe(name) =>
        val q = stmtsOf(spark).getOrElse(name.toLowerCase,
          throw new IllegalArgumentException(s"Prepared statement not found: $name"))
        Metadata.describeInput(spark, q)
      case describeOutputRe(name) =>
        val q = stmtsOf(spark).getOrElse(name.toLowerCase,
          throw new IllegalArgumentException(s"Prepared statement not found: $name"))
        Metadata.describeOutput(spark, rewriteFull(q))
      case showColumnsRe(table) =>
        Metadata.showColumns(spark, table)
      case showFunctionsRe() =>
        Metadata.showFunctions(spark)
      case showCatalogsRe(pattern) =>
        Metadata.showCatalogs(spark, Option(pattern))
      case showSchemasRe(pattern, escape) =>
        Metadata.showSchemas(spark, Option(pattern), Option(escape))
      case showTablesRe(schema, pattern, escape) =>
        Metadata.showTables(spark, Option(schema), Option(pattern), Option(escape))
      case beginTxnRe() =>
        graft.operators.TransactionOps.begin(spark)
        Seq("START TRANSACTION").toDF("result")
      case commitTxnRe(_) =>
        graft.operators.TransactionOps.commit(spark)
        Seq("COMMIT").toDF("result")
      case rollbackTxnRe(_) =>
        graft.operators.TransactionOps.rollback(spark)
        Seq("ROLLBACK").toDF("result")
      case prepareRe(name, query) =>
        stmtsOf(spark).put(name.toLowerCase, query.trim)
        recordPrepare(name.toLowerCase, query.trim)
        Seq("PREPARE").toDF("result")
      case deallocRe(name) =>
        stmtsOf(spark).remove(name.toLowerCase)
        recordDealloc(name.toLowerCase)
        Seq("DEALLOCATE").toDF("result")
      case executeRe(name, argText) =>
        val query = stmtsOf(spark).getOrElse(name.toLowerCase,
          throw new IllegalArgumentException(s"Prepared statement not found: $name"))
        val args = if (argText == null) Seq.empty else splitArgs(argText)
        val bound = rewriteCurrentUser(spark, rewriteFull(bindParams(query, args)))
        AccessControl.enforce(spark, bound)
        spark.sql(bound)
      case _ =>
        var rewritten = rewriteCurrentUser(spark, rewriteFull(text))
        if (SystemTables.referencesSystemTables(rewritten)) {
          // statement-time snapshot of system.runtime.* then name rewrite
          SystemTables.refreshViews(spark)
          if (SystemTables.referencesJdbcTables(rewritten))
            SystemTables.refreshJdbcViews(spark)
          rewritten = SystemTables.rewriteRefs(rewritten)
        }
        AccessControl.enforce(spark, rewritten)
        spark.sql(rewritten)
    }
  }

  /** Niladic CURRENT_USER (SqlBase.g4 specialForm; the reference
    * desugars it at analysis to the session identity —
    * DesugarCurrentUser.java, runtime value SessionFunctions.java):
    * bound here to the STATEMENT's principal, so an HTTP request with
    * X-Presto-User sees its own identity. Rewritten to a string literal
    * outside quoted literals; `current_user(` is left for Spark's own
    * builtin (parenthesized form is not Presto syntax). */
  private def rewriteCurrentUser(spark: SparkSession, text: String): String = {
    if (!text.toLowerCase.contains("current_user")) return text
    val lit = literalMap(text)
    val out = new StringBuilder
    var last = 0
    "(?i)\\bcurrent_user\\b".r.findAllMatchIn(text).foreach { m =>
      out.append(text.substring(last, m.start))
      val parenFollows =
        text.drop(m.end).dropWhile(_.isWhitespace).headOption.contains('(')
      if (lit(m.start) || parenFollows) out.append(m.matched)
      else out.append("'" + AccessControl.principal(spark).replace("'", "''") + "'")
      last = m.end
    }
    out.append(text.substring(last))
    out.toString
  }
}
