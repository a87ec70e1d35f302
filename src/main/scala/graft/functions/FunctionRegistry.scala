package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry => SparkFunctions}
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AnyValue, HyperLogLogPlusPlus}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.internal.SQLConf

/** Presto-parity function layer.
  *
  * Lists (a) Presto-named aliases that map 1:1 onto Spark built-in
  * Catalyst expressions (so Presto-dialect SQL runs unchanged through
  * spark.sql — zero overhead, full codegen), and (b) custom scalar UDFs +
  * sketch aggregates for the rest. The extension `Engine.session` loads
  * injects [[all]] into every session at build time.
  *
  * Reference: presto-main/.../metadata/FunctionRegistry.java:419-660 (the
  * master index of every SQL function; see SURVEY §2.9).
  */
object FunctionRegistry {

  /** One SQL function: its name and the builder that turns call
    * arguments into a Catalyst expression. */
  type Fn = (String, FunctionBuilder)

  /** A function built straight from Catalyst expressions. */
  def fn(name: String)(builder: FunctionBuilder): Fn = name -> builder

  /** A Scala UDF or UDAF, built the way Spark's UDF registration builds it. */
  def scalaUdf(name: String, u: UserDefinedFunction): Fn = name -> ColumnBridge.udfBuilder(name, u)

  /** Every graft function, in install order: a later entry replaces an
    * earlier one of the same name. PrestoNames comes last because its
    * aliases delegate to functions listed before it (or to Spark's
    * built-ins). Built once per JVM. */
  lazy val all: Seq[Fn] = {
    val listed = aliases ++ ScalarFunctions.functions ++ SketchAggregates.functions ++
      QuantileSketchFunctions.functions ++ ArrayCosineSimilarity.functions ++
      PrestoSubscript.functions ++ TypedAggregators.functions ++ HeavyHitters.functions ++
      MapHistogramAggs.functions ++ TeradataFunctions.functions ++ SpookyHash.functions ++
      IpFunctions.functions ++ VectorMeanAgg.functions ++ BingTiles.functions ++
      ConvexHullAgg.functions ++ ColorFunctions.functions ++ GeometryConstructors.functions ++
      MlFunctions.functions ++ TimestampTzFunctions.functions ++ GenericMapAgg.functions ++
      TextScanExpressions.functions
    def builderOf(name: String): FunctionBuilder =
      listed.reverseIterator.collectFirst { case (`name`, b) => b }
        .orElse(SparkFunctions.builtin.lookupFunctionBuilder(FunctionIdentifier(name)))
        .getOrElse(throw new IllegalStateException(s"alias target not listed: $name"))
    listed ++ PrestoNames.functions(builderOf)
  }

  /** Pure renames: Presto name -> Spark built-in Catalyst expression.
    * All stay inside whole-stage codegen (no UDF boxing).
    * Reference files: operator/scalar/StringFunctions.java,
    * MathFunctions.java, DateTimeFunctions.java,
    * ApproximateCountDistinctAggregation.java, ArbitraryAggregationFunction.java.
    */
  private def aliases: Seq[Fn] = {
    // char(n) fixed-length semantics as composed codegen'd expressions —
    // presto-spi Chars.java / CharType.java (see Fns.charCast and
    // misc_char_padding): char_cast truncates to n and pads with spaces;
    // char_eq / char_lt pad both sides to the wider length.
    def padBoth(a: Expression, b: Expression): (Expression, Expression) = {
      val w = Greatest(Seq(Length(a), Length(b)))
      (StringRPad(a, w, Literal(" ")), StringRPad(b, w, Literal(" ")))
    }
    // day_of_week / dow — Presto returns ISO (Mon=1..Sun=7);
    // Spark's dayofweek is Sun=1, so shift: ((dayofweek+5) % 7) + 1.
    val isoDow: FunctionBuilder = args =>
      Add(Pmod(Add(DayOfWeek(args.head), Literal(5)), Literal(7)), Literal(1))
    val inf = Literal(Double.PositiveInfinity)
    Seq(
      // strpos(haystack, needle) — StringFunctions.java stringPosition
      fn("strpos") { args => StringInstr(args(0), args(1)) },
      // codepoint(ch) — StringFunctions.java codepoint
      fn("codepoint") { args => Ascii(args.head) },
      // approx_distinct(x[, e]) — ApproximateCountDistinctAggregation.java:43
      fn("approx_distinct") { args =>
        if (args.size >= 2) new HyperLogLogPlusPlus(args(0), args(1))
        else new HyperLogLogPlusPlus(args(0))
      },
      // arbitrary(x) — ArbitraryAggregationFunction.java:48
      fn("arbitrary") { args => new AnyValue(args.head) },
      // regexp_replace with a LAMBDA replacement —
      // JoniRegexpReplaceLambdaFunction.java:39. The non-lambda arities
      // keep Spark's native (codegen'd) RegExpReplace; Presto's 2-arg form
      // deletes matches.
      fn("regexp_replace") { args =>
        if (args.size == 3 && args(2).isInstanceOf[LambdaFunction])
          org.apache.spark.sql.graft.RegexpReplaceLambda(args(0), args(1), args(2))
        else if (args.size == 2) RegExpReplace(args(0), args(1), Literal(""))
        else RegExpReplace(args(0), args(1), args(2))
      },
      // log2/log10 exist in Spark; Presto ln == Spark ln. nothing to do.
      // is_nan — MathFunctions.java
      fn("is_nan") { args => IsNaN(args.head) },
      fn("char_cast") { args =>
        StringRPad(Substring(args(0), Literal(1), args(1)), args(1), Literal(" "))
      },
      fn("char_eq") { args =>
        val (l, r) = padBoth(args(0), args(1)); EqualTo(l, r)
      },
      fn("char_lt") { args =>
        val (l, r) = padBoth(args(0), args(1)); LessThan(l, r)
      },
      // to_unixtime(ts) -> double seconds — DateTimeFunctions.java
      fn("to_unixtime") { args =>
        Divide(
          Cast(UnixMicros(Cast(args.head, org.apache.spark.sql.types.TimestampType)),
            org.apache.spark.sql.types.DoubleType),
          Literal(1000000.0))
      },
      // from_unixtime(secs) -> timestamp — Presto returns timestamp(3)
      fn("presto_from_unixtime") { args => SecondsToTimestamp(args.head) },
      // TRY(expr) — generic error->NULL wrapper (TryFunction.java). Spark 4
      // ships the TryEval expression (used by try_add etc.); exposing it
      // directly generalizes TRY to any child expression.
      fn("try_eval") { args => TryEval(args.head) },
      fn("day_of_week")(isoDow),
      fn("dow")(isoDow),
      fn("day_of_year") { args => DayOfYear(args.head) },
      fn("doy") { args => DayOfYear(args.head) },
      fn("week") { args => WeekOfYear(args.head) },
      fn("week_of_year") { args => WeekOfYear(args.head) },
      // ISO-8601 rendering/parsing — DateTimeFunctions.java to/from_iso8601
      fn("to_iso8601") { args =>
        DateFormatClass(args.head, Literal("yyyy-MM-dd'T'HH:mm:ss.SSSXXX"))
      },
      fn("from_iso8601_timestamp") { args =>
        Cast(args.head, org.apache.spark.sql.types.TimestampType)
      },
      fn("from_iso8601_date") { args =>
        Cast(args.head, org.apache.spark.sql.types.DateType)
      },
      // is_finite / is_infinite — MathFunctions.java. abs(x) < inf is false
      // for both NaN (IEEE compares false) and ±inf, so one comparison
      // covers Presto's semantics; stays in codegen.
      fn("is_finite") { args =>
        LessThan(Abs(Cast(args.head, org.apache.spark.sql.types.DoubleType)), inf)
      },
      fn("is_infinite") { args =>
        EqualTo(Abs(Cast(args.head, org.apache.spark.sql.types.DoubleType)), inf)
      },
      // infinity() / nan() — MathFunctions.java constants.
      fn("infinity") { _ => inf },
      fn("nan") { _ => Literal(Double.NaN) },
      // truncate(x[, n]) — MathFunctions.java truncate: round toward zero,
      // optionally keeping n decimal digits. sign*floor(abs) composition
      // keeps it native (Spark has no numeric truncate).
      fn("truncate") { args =>
        val x = Cast(args.head, org.apache.spark.sql.types.DoubleType)
        val scaled = if (args.size >= 2)
          Pow(Literal(10.0), Cast(args(1), org.apache.spark.sql.types.DoubleType))
        else Literal(1.0)
        Divide(
          Multiply(
            Cast(Signum(x), org.apache.spark.sql.types.DoubleType),
            Cast(Floor(Multiply(Abs(x), scaled)), org.apache.spark.sql.types.DoubleType)),
          scaled)
      },
      // current_timezone() — DateTimeFunctions.java; the zone of the
      // session being analyzed is fixed at plan time, so a literal is exact.
      fn("current_timezone") { _ =>
        Literal(org.apache.spark.unsafe.types.UTF8String.fromString(
          SQLConf.get.sessionLocalTimeZone),
          org.apache.spark.sql.types.StringType)
      },
      // fail(message) — FailureFunction.java; Spark's raise_error.
      fn("fail") { args => new RaiseError(args.head) },
      // split_to_map(s, entryDelim, kvDelim) — SplitToMapFunction.java;
      // Spark's str_to_map has identical argument order.
      fn("split_to_map") { args => StringToMap(args(0), args(1), args(2)) },
      // json_extract/json_extract_scalar — JsonFunctions.java; Spark's
      // get_json_object uses the same $-rooted path dialect (JSONPath-subset
      // deltas pinned in SemanticsSpecs).
      fn("json_extract") { args => GetJsonObject(args(0), args(1)) },
      // json_extract_scalar is NOT GetJsonObject: the reference's
      // ScalarValueJsonExtractor (JsonExtract.java:262) returns NULL when
      // the path resolves to an object/array. Listed as a Jackson-backed
      // UDF in ScalarFunctions.functions (jsonExtractScalar).
      fn("json_array_length") { args => LengthOfJsonArray(args.head) },
      // bitwise_and_agg / bitwise_or_agg — BitwiseAndAggregation.java /
      // BitwiseOrAggregation.java onto Spark's native bit_and/bit_or.
      fn("bitwise_and_agg") { args => aggregate.BitAndAgg(args.head) },
      fn("bitwise_or_agg") { args => aggregate.BitOrAgg(args.head) })
  }
}
