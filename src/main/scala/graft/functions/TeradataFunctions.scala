package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import FunctionRegistry.{fn, scalaUdf}

/** Teradata-compatibility functions — the reference's
  * presto-teradata-functions plugin re-expressed on Catalyst:
  *
  *  - `index(string, substring)` —
  *    TeradataStringFunctions.java:40 (1-based position, 0 if absent);
  *    a pure rename of Spark's codegen'd `instr`.
  *  - `char2hexint(string)` — TeradataStringFunctions.java:109
  *    (uppercase hex of the UTF-16BE encoding).
  *  - `to_char(timestamp, format)`, `to_date(string, format)`,
  *    `to_timestamp(string, format)` — TeradataDateFunctions.java:63-96
  *    with the Teradata format-token grammar
  *    (dateformat/DateFormatParser.java:37-70: YYYY YY MM DD HH24 HH MI
  *    SS + literal separators). The format string is translated ONCE at
  *    plan time (it is virtually always a literal) into a Java
  *    DateTimeFormatter pattern, so the evaluated expression is Spark's
  *    native date_format / to_date / to_timestamp — full whole-stage
  *    codegen, no per-row translation.
  *
  * The plugin's Teradata-flavored `substring` overloads (negative start
  * positions consume length before position 1) are NOT registered: they
  * would shadow ANSI substring for every query. Documented delta.
  */
object TeradataFunctions {

  /** Translate a Teradata date format to a java.time pattern.
    * Tokens are matched longest-first and case-insensitively, mirroring
    * DateFormatParser.tokenize; an unrecognized letter throws, like the
    * reference's UNRECOGNIZED branch (DateFormatParser.java:66-70).
    */
  def translateFormat(fmt: String): String = {
    val tokens = Seq( // longest-first so hh24 wins over hh, yyyy over yy
      "yyyy" -> "yyyy", "hh24" -> "HH", "yy" -> "yy", "dd" -> "dd",
      "hh" -> "hh", "mi" -> "mm", "mm" -> "MM", "ss" -> "ss")
    val sb = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      val rest = fmt.substring(i)
      tokens.find { case (t, _) => rest.regionMatches(true, 0, t, 0, t.length) } match {
        case Some((t, repl)) => sb.append(repl); i += t.length
        case None =>
          val c = fmt.charAt(i)
          if (c.isLetter)
            throw new IllegalArgumentException(
              s"Failed to tokenize string [$fmt] at offset [$i]")
          // non-letter separators pass through verbatim (safe unquoted
          // in java.time patterns except the quote character itself)
          if (c == '\'') sb.append("''") else sb.append(c)
          i += 1
      }
    }
    sb.toString
  }

  private def translated(e: Expression): Expression = e match {
    case Literal(s, org.apache.spark.sql.types.StringType) if s != null =>
      Literal(translateFormat(s.toString))
    case other => other // non-literal format: pattern passed through untranslated
  }

  def functions: Seq[FunctionRegistry.Fn] = Seq(
    fn("index") { args => StringInstr(args(0), args(1)) },
    fn("to_char") { args => DateFormatClass(args(0), translated(args(1))) },
    fn("to_date") { args =>
      if (args.size >= 2) new ParseToDate(args(0), translated(args(1))) else new ParseToDate(args(0))
    },
    fn("to_timestamp") { args =>
      if (args.size >= 2) new ParseToTimestamp(args(0), translated(args(1)))
      else new ParseToTimestamp(args(0))
    },
    scalaUdf("char2hexint", org.apache.spark.sql.functions.udf { (s: String) =>
      if (s == null) null
      else {
        val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_16BE)
        bytes.map(b => f"${b & 0xff}%02X").mkString
      }
    }))
}
