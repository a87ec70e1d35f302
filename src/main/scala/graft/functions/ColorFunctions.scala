package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf
import FunctionRegistry.fn

/** Color / rendering functions (SURVEY §2.9 "color plugin"): the
  * reference's terminal-visualization surface —
  * `operator/scalar/ColorFunctions.java` — re-expressed as Scala UDFs.
  * These are O(width) string formatters for client display, never in a
  * hot analytic path, so UDF boxing is the right cost/benefit (the
  * codegen'd-expression rule applies to per-row analytic work).
  *
  * Semantics pinned to the reference:
  *  - A color value is a BIGINT: non-negative 0xRRGGBB for RGB colors;
  *    system/ANSI colors (black..white) encode as -(index+1)
  *    (ColorFunctions.java:85-105).
  *  - `color('#f0a')` parses CSS-style single-nibble hex by replicating
  *    nibbles (#rgb -> #rrggbb, ColorFunctions.java:278-298).
  *  - Gradient interpolation is linear in HSB space with float math
  *    (ColorFunctions.java:234-244); the JDK's java.awt.Color conversions
  *    supply RGB<->HSB exactly as the reference's do.
  *  - Terminal output uses the xterm-256 palette: ESC[38;5;<idx>m where
  *    idx = 16 + 36r' + 6g' + b' on the 6x6x6 cube, channels rescaled by
  *    *6/256 (ColorFunctions.java:249-262).
  */
object ColorFunctions {

  private val AnsiReset = "[0m"
  private val SystemColors: Map[String, Int] = Map(
    "black" -> 0, "red" -> 1, "green" -> 2, "yellow" -> 3,
    "blue" -> 4, "magenta" -> 5, "cyan" -> 6, "white" -> 7)

  def rgb(red: Long, green: Long, blue: Long): Long = {
    def check(v: Long, n: String): Unit =
      require(v >= 0 && v <= 255, s"$n must be between 0 and 255")
    check(red, "red"); check(green, "green"); check(blue, "blue")
    (red << 16) | (green << 8) | blue
  }

  /** `color(name)`: '#rgb' hex or a system color name. */
  def colorOf(s: String): Long = {
    if (s == null) return -1L // nulls handled by the UDF wrapper
    if (s.length == 4 && s.charAt(0) == '#') {
      val nib = s.substring(1).map(c => Character.digit(c, 16))
      if (nib.forall(_ >= 0)) {
        val Seq(r, g, b) = nib.map(n => (n << 4) | n).toSeq
        return rgb(r, g, b)
      }
    }
    SystemColors.get(s.toLowerCase) match {
      case Some(idx) => -(idx + 1L)
      case None => throw new IllegalArgumentException(s"Invalid color: '$s'")
    }
  }

  private def red(c: Long): Int = { require(c >= 0, "color is not a valid rgb value"); ((c >>> 16) & 0xff).toInt }
  private def green(c: Long): Int = { require(c >= 0, "color is not a valid rgb value"); ((c >>> 8) & 0xff).toInt }
  private def blue(c: Long): Int = { require(c >= 0, "color is not a valid rgb value"); (c & 0xff).toInt }

  /** Linear HSB interpolation with float math (matches the reference's
    * use of java.awt.Color conversions bit for bit). */
  private def interpolate(fraction: Float, low: Long, high: Long): Long = {
    val lo = java.awt.Color.RGBtoHSB(red(low), green(low), blue(low), null)
    val hi = java.awt.Color.RGBtoHSB(red(high), green(high), blue(high), null)
    val h = fraction * (hi(0) - lo(0)) + lo(0)
    val s = fraction * (hi(1) - lo(1)) + lo(1)
    val v = fraction * (hi(2) - lo(2)) + lo(2)
    (java.awt.Color.HSBtoRGB(h, s, v) & 0xFFFFFF).toLong
  }

  def colorInterp(fraction: Double, low: Long, high: Long): Long = {
    require(low >= 0, "lowColor not a valid RGB color")
    require(high >= 0, "highColor not a valid RGB color")
    interpolate(math.max(0d, math.min(1d, fraction)).toFloat, low, high)
  }

  def colorScaled(value: Double, lo: Double, hi: Double, lowColor: Long, highColor: Long): Long =
    colorInterp((value - lo) / (hi - lo), lowColor, highColor)

  /** xterm-256 index for a color value (6-level cube for RGB; system
    * colors pass their index through). */
  private def toAnsi(color: Long): Int =
    if (color >= 0)
      16 + (red(color) * 6 / 256) * 36 + (green(color) * 6 / 256) * 6 + blue(color) * 6 / 256
    else (-color - 1).toInt

  private def escape(color: Long): String = s"[38;5;${toAnsi(color)}m"

  def render(value: String, color: Long): String =
    escape(color) + value + AnsiReset

  def bar(percent: Double, width: Long, lowColor: Long, highColor: Long): String = {
    val count = math.max(0L, math.min(width, (percent * width).toInt.toLong))
    val sb = new StringBuilder
    var i = 0L
    while (i < count) {
      sb.append(escape(interpolate((i * 1.0 / (width - 1)).toFloat, lowColor, highColor)))
        .append('█')
      i += 1
    }
    sb.append(AnsiReset)
    while (i < width) { sb.append(' '); i += 1 }
    sb.toString
  }

  def functions: Seq[FunctionRegistry.Fn] = {
    val colorName = udf(colorOf _)
    val colorInterpUdf = udf(colorInterp _)
    val colorScaledUdf = udf(colorScaled _)
    val rgbUdf = udf(rgb _)
    val renderStr = udf(render _)
    val renderLong = udf((v: Long, c: Long) => render(v.toString, c))
    val renderDouble = udf((v: Double, c: Long) => render(v.toString, c))
    val renderBoolU = udf((v: Boolean) =>
      if (v) render("✓", colorOf("green")) else render("✗", colorOf("red")))
    val barDefault = udf((p: Double, w: Long) => bar(p, w, rgb(255, 0, 0), rgb(0, 255, 0)))
    val barColored = udf(bar _)

    // Overload dispatch by arity/type through the builder API — Presto
    // overloads `color`, `render`, and `bar` and so do we.
    def ap(u: org.apache.spark.sql.expressions.UserDefinedFunction,
           args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
      org.apache.spark.sql.graft.ColumnBridge.applyUdf(u, args)

    Seq(
      fn("rgb")(args => ap(rgbUdf, args)),
      fn("color") {
        case Seq(one) => ap(colorName, Seq(one))
        case args if args.size == 3 => ap(colorInterpUdf, args)
        case args if args.size == 5 => ap(colorScaledUdf, args)
        case args => throw new IllegalArgumentException(s"color: bad arity ${args.size}")
      },
      fn("render") {
        case Seq(one) => ap(renderBoolU, Seq(one))
        case Seq(v, c) =>
          v.dataType match {
            case org.apache.spark.sql.types.StringType => ap(renderStr, Seq(v, c))
            case org.apache.spark.sql.types.DoubleType => ap(renderDouble, Seq(v, c))
            case _ => ap(renderLong, Seq(v, c))
          }
        case args => throw new IllegalArgumentException(s"render: bad arity ${args.size}")
      },
      fn("bar") {
        case Seq(p, w) => ap(barDefault, Seq(p, w))
        case args if args.size == 4 => ap(barColored, args)
        case args => throw new IllegalArgumentException(s"bar: bad arity ${args.size}")
      })
  }
}
