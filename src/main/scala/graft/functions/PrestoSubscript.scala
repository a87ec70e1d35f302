package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._

/** The Presto `expr[subscript]` operator with the reference's ERROR
  * semantics (the front door rewrites every bracket subscript to this).
  *
  * Reference: operator/scalar/ArraySubscriptOperator.java — index 0
  * raises "SQL array indices start at 1", negative raises, index >
  * cardinality raises "Array subscript out of bounds"; and
  * MapSubscriptOperator.java — a missing key raises "Key not present
  * in map". Spark's own `element_at` (and `getItem`) return NULL in
  * all of those positions under the default non-ANSI session, which
  * silently converts a wrong-index bug into missing data — exactly the
  * delta the r8 ADVICE flagged. NULL container or NULL subscript still
  * returns NULL (standard null-in-null-out), and a NULL element/value
  * at a VALID position returns that NULL.
  *
  * Codegen: the array side generates inline branchy code (subscripts
  * sit in hot projections); the map side routes through a bound helper
  * on the expression object — a per-row virtual call, but the
  * surrounding whole-stage pipeline stays compiled (a CodegenFallback
  * here would de-compile every expression tree containing one map
  * subscript).
  */
case class PrestoSubscript(left: Expression, right: Expression)
  extends BinaryExpression {

  override def prettyName: String = "presto_subscript"

  override def dataType: DataType = left.dataType match {
    case ArrayType(et, _) => et
    case MapType(_, vt, _) => vt
    case other => other // unreachable after checkInputDataTypes
  }

  // Index/key coercion happens at runtime (AbstractDataType is
  // sql-package-private, so the ImplicitCastInputTypes route is closed
  // to an external expression): any integral index works against an
  // array, and numeric map keys tolerate integer-literal subscripts
  // against bigint/double keys (normalizeKey).
  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case _: ArrayType => right.dataType match {
      case ByteType | ShortType | IntegerType | LongType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"array subscript must be an integer, got ${other.simpleString}")
    }
    case MapType(kt, _, _) =>
      val compatible = kt == right.dataType ||
        (isNumeric(kt) && isNumeric(right.dataType))
      if (compatible) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"map subscript type ${right.dataType.simpleString} does not match key type ${kt.simpleString}")
    case other => TypeCheckResult.TypeCheckFailure(
      s"[] subscript requires an array or map operand, got ${other.simpleString}")
  }

  private def isNumeric(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType => true
    case _ => false
  }

  override def nullable: Boolean = true

  private lazy val keyType: DataType = left.dataType match {
    case MapType(kt, _, _) => kt
    case _ => NullType
  }
  private lazy val valueType: DataType = dataType

  override def nullSafeEval(container: Any, index: Any): Any = left.dataType match {
    case ArrayType(et, _) =>
      val arr = container.asInstanceOf[ArrayData]
      val i = index.asInstanceOf[Number].longValue()
      checkArrayIndex(i, arr.numElements())
      if (arr.isNullAt(i.toInt - 1)) null else arr.get(i.toInt - 1, et)
    case _: MapType => mapLookup(container.asInstanceOf[MapData], index)
    case _ => null
  }

  private def checkArrayIndex(i: Long, n: Int): Unit = {
    if (i == 0) throw new IllegalArgumentException("SQL array indices start at 1")
    if (i < 0) throw new IllegalArgumentException(s"Array subscript is negative: $i")
    if (i > n) throw new IllegalArgumentException(
      s"Array subscript must be less than or equal to array length: $i > $n")
  }

  /** Bound map lookup for both eval and generated code. Atomic key
    * types only (the analyzer has already cast the subscript to the
    * key type, so boxed equality — UTF8String / Long / Double / ... —
    * is the storage-level comparison). */
  def mapLookup(map: MapData, key0: Any): Any = {
    val key = normalizeKey(key0)
    val keys = map.keyArray()
    val n = map.numElements()
    var i = 0
    while (i < n) {
      if (java.util.Objects.equals(keys.get(i, keyType), key)) {
        val values = map.valueArray()
        return if (values.isNullAt(i)) null else values.get(i, valueType)
      }
      i += 1
    }
    throw new IllegalArgumentException(s"Key not present in map: $key")
  }

  /** Coerce a numeric subscript to the map's key representation (an
    * integer literal against a bigint- or double-keyed map). */
  private def normalizeKey(key: Any): Any = (keyType, key) match {
    case (LongType, n: Number) => java.lang.Long.valueOf(n.longValue())
    case (IntegerType, n: Number) => java.lang.Integer.valueOf(n.intValue())
    case (DoubleType, n: Number) => java.lang.Double.valueOf(n.doubleValue())
    case (FloatType, n: Number) => java.lang.Float.valueOf(n.floatValue())
    case (ShortType, n: Number) => java.lang.Short.valueOf(n.shortValue())
    case (ByteType, n: Number) => java.lang.Byte.valueOf(n.byteValue())
    case _ => key
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    left.dataType match {
      case ArrayType(et, _) =>
        nullSafeCodeGen(ctx, ev, (arr, idx) => {
          val i = ctx.freshName("idx")
          val n = ctx.freshName("n")
          val getter = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
            .getValue(arr, et, s"((int) $i - 1)")
          s"""
             |long $i = $idx;
             |int $n = $arr.numElements();
             |if ($i == 0) throw new IllegalArgumentException("SQL array indices start at 1");
             |if ($i < 0) throw new IllegalArgumentException("Array subscript is negative: " + $i);
             |if ($i > $n) throw new IllegalArgumentException(
             |  "Array subscript must be less than or equal to array length: " + $i + " > " + $n);
             |if ($arr.isNullAt((int) $i - 1)) {
             |  ${ev.isNull} = true;
             |} else {
             |  ${ev.value} = $getter;
             |}
           """.stripMargin
        })
      case _: MapType =>
        val ref = ctx.addReferenceObj("prestoSubscript", this, classOf[PrestoSubscript].getName)
        val javaType = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
          .javaType(valueType)
        val boxed = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
          .boxedType(valueType)
        nullSafeCodeGen(ctx, ev, (map, key) => {
          val out = ctx.freshName("out")
          s"""
             |Object $out = $ref.mapLookup($map, (Object) $key);
             |if ($out == null) {
             |  ${ev.isNull} = true;
             |} else {
             |  ${ev.value} = ($javaType) (($boxed) $out);
             |}
           """.stripMargin
        })
      case _ =>
        nullSafeCodeGen(ctx, ev, (_, _) => s"${ev.isNull} = true;")
    }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PrestoSubscript =
    copy(left = newLeft, right = newRight)
}

object PrestoSubscript {
  def functions: Seq[FunctionRegistry.Fn] = Seq(
    FunctionRegistry.fn("presto_subscript") { args => PrestoSubscript(args(0), args(1)) })
}
