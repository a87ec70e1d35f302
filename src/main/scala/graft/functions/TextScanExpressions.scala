package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import FunctionRegistry.fn

/** Single-pass text-scan kernels for the corpus-curation path — the two
  * per-document scans a quality/filtering pipeline runs over every byte
  * of a 100 TB crawl, implemented as native Catalyst expressions so the
  * scan stays inside whole-stage codegen (generated code calls a
  * serialized kernel object via `addReferenceObj` — the HOF / UDF
  * alternatives box per element or per row):
  *
  *  - [[BlocklistMatches]]: Aho-Corasick multi-pattern substring search.
  *    ONE O(|text|) automaton walk counts every occurrence (all start
  *    positions, overlapping included) of EVERY pattern simultaneously —
  *    the naive per-pattern scan the DuckDB oracle runs is
  *    O(|text| x |patterns|), which is exactly what a blocklist of
  *    thousands of phrases cannot afford per document at crawl scale.
  *    Reference analog: the LIKE-any / multi-LIKE filter family
  *    (presto-main operator/scalar/LikeFunctions.java compiles one
  *    pattern at a time); RefinedWeb/C4-style corpora apply such
  *    word/phrase blocklists to every page.
  *
  *  - [[CharStats]]: per-document character histogram -> (distinct code
  *    points, Shannon entropy in nats). Entropy accumulates in ascending
  *    code-point order (deterministic; `round(.,6)` downstream absorbs
  *    libm/summation-order ulps per repo convention). Low-entropy text
  *    (repeated boilerplate, padding, binary junk) is a standard
  *    quality-filter signal (Gopher/DCLM family).
  */
object TextScanExpressions {
  def functions: Seq[FunctionRegistry.Fn] = Seq(
    fn("blocklist_counts")(
      args => BlocklistMatches(args(0), BlocklistMatches.literalPatterns(args(1)))),
    fn("char_stats")(
      args => CharStats(args(0))))
}

/** Aho-Corasick automaton over UTF-16 code units. Built once per plan
  * (serialized into the codegen references array), walked once per row.
  * `countAll` returns one count per pattern, in the constructor's
  * pattern order: the number of start positions at which the pattern
  * occurs (overlapping occurrences all count — same semantics as
  * "substr(text, i, len(p)) = p for every i").
  */
final class AhoCorasick(val patterns: Array[String]) extends Serializable {
  require(patterns.nonEmpty && patterns.forall(_.nonEmpty), "patterns must be non-empty")

  // Flattened automaton: per-state sorted transition keys + targets,
  // fail links, and the transitive output set (pattern ids ending at the
  // state, including via the fail chain — precomputed so the walk never
  // follows suffix links).
  private val (childKeys, childVals, fail, outputs) = {
    import scala.collection.mutable
    val keys = mutable.ArrayBuffer(mutable.TreeMap.empty[Char, Int])
    def addState(): Int = { keys += mutable.TreeMap.empty[Char, Int]; keys.length - 1 }
    val own = mutable.ArrayBuffer(List.empty[Int])
    patterns.zipWithIndex.foreach { case (p, pid) =>
      var st = 0
      p.foreach { c =>
        st = keys(st).getOrElse(c, { val n = addState(); own += Nil; keys(st)(c) = n; n })
      }
      own(st) = pid :: own(st)
    }
    val n = keys.length
    val failA = new Array[Int](n)
    val outA = new Array[Array[Int]](n)
    outA(0) = own(0).toArray
    val queue = mutable.Queue.empty[Int]
    keys(0).foreach { case (_, v) => failA(v) = 0; queue += v }
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      outA(u) = (own(u) ++ outA(failA(u)).toList).toArray
      keys(u).foreach { case (c, v) =>
        var f = failA(u)
        while (f != 0 && !keys(f).contains(c)) f = failA(f)
        failA(v) = if (keys(f).contains(c) && keys(f)(c) != v) keys(f)(c) else 0
        queue += v
      }
    }
    (keys.map(m => m.keys.toArray).toArray, keys.map(m => m.values.toArray).toArray, failA, outA)
  }

  private def step(state0: Int, c: Char): Int = {
    var state = state0
    while (true) {
      val ks = childKeys(state)
      val idx = java.util.Arrays.binarySearch(ks, c)
      if (idx >= 0) return childVals(state)(idx)
      if (state == 0) return 0
      state = fail(state)
    }
    0
  }

  def countAll(text: String): Array[Long] = {
    val counts = new Array[Long](patterns.length)
    var state = 0
    var i = 0
    val len = text.length
    while (i < len) {
      state = step(state, text.charAt(i))
      val os = outputs(state)
      var j = 0
      while (j < os.length) { counts(os(j)) += 1; j += 1 }
      i += 1
    }
    counts
  }
}

/** `blocklist_counts(text, array('p1','p2',...))` -> array<bigint> of
  * per-pattern occurrence counts (overlapping), aligned with the given
  * (plan-time-literal) pattern array. One automaton pass per row.
  */
case class BlocklistMatches(child: Expression, patterns: Seq[String])
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "blocklist_counts"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"blocklist_counts expects a string column, got ${child.dataType}")

  @transient private lazy val ac = new AhoCorasick(patterns.toArray)

  /** Called from generated code. */
  def count(s: UTF8String): ArrayData = new GenericArrayData(ac.countAll(s.toString))

  override def nullSafeEval(input: Any): Any = count(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("blocklist", this, classOf[BlocklistMatches].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.count($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): BlocklistMatches =
    copy(child = newChild)
}

object BlocklistMatches {
  /** Extracts the pattern list from a foldable array-of-strings literal
    * (the SQL-front-door form `blocklist_counts(text, array('a','b'))`).
    */
  def literalPatterns(e: Expression): Seq[String] = {
    require(e.foldable, "blocklist_counts patterns must be a literal array")
    e.eval() match {
      case a: ArrayData =>
        a.toObjectArray(StringType).toSeq.map(_.asInstanceOf[UTF8String].toString)
      case other => throw new IllegalArgumentException(
        s"blocklist_counts patterns must be array<string>, got $other")
    }
  }
}

/** `char_stats(text)` -> struct<distinct_chars:int, entropy:double>:
  * one-pass code-point histogram; entropy = -sum(p ln p) accumulated in
  * ascending code-point order.
  */
case class CharStats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("distinct_chars", IntegerType, nullable = false),
    StructField("entropy", DoubleType, nullable = false)))
  override def prettyName: String = "char_stats"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"char_stats expects a string column, got ${child.dataType}")

  /** Called from generated code. */
  def stats(s: UTF8String): InternalRow = {
    val hist = new java.util.TreeMap[Integer, Long]()
    var n = 0L
    val str = s.toString
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      hist.merge(cp, 1L, (a, b) => a + b)
      n += 1
      i += Character.charCount(cp)
    }
    var entropy = 0.0
    if (n > 0) {
      val it = hist.values().iterator()
      while (it.hasNext) {
        val p = it.next().toDouble / n
        entropy -= p * math.log(p)
      }
    }
    InternalRow(hist.size(), entropy)
  }

  override def nullSafeEval(input: Any): Any = stats(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("charStats", this, classOf[CharStats].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.stats($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): CharStats =
    copy(child = newChild)
}
