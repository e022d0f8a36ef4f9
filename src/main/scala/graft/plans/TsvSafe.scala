package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Identity-on-valid-input guard for the Neo4j TSV sinks (ADVICE r13,
  * medium): passes the string through unchanged, throws on \t / \n / \r —
  * the three bytes that would silently corrupt an unquoted TSV row at the
  * neo4j-admin import boundary. On an `array<string>` it checks every
  * element and also rejects `|`, the import's array delimiter: an element
  * `a|b` would silently come back as two elements (ADVICE r14). Null
  * elements pass (the `|` join skips them).
  *
  * A native expression instead of `contains(\t) || contains(\n) ||
  * contains(\r) → raise_error` because the sinks evaluate it per string
  * column per row (the 78M-row has_similarity_rels sink measured the
  * three-scan Column form at ~20 executor-CPU-s): this is ONE byte scan,
  * inlined into the sink projection's whole-stage codegen.
  */
case class TsvSafe(child: Expression)
    extends UnaryExpression with Serializable {

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType | ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"TsvSafe requires string or array<string> input, got ${other.catalogString}")
    }

  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable

  private def isArray: Boolean = child.dataType.isInstanceOf[ArrayType]

  override protected def nullSafeEval(input: Any): Any =
    if (isArray) TsvSafeUtil.checkElements(input.asInstanceOf[ArrayData])
    else TsvSafeUtil.check(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      if (isArray) s"graft.plans.TsvSafeUtil.checkElements($c)"
      else s"graft.plans.TsvSafeUtil.check($c)")

  override protected def withNewChildInternal(newChild: Expression): TsvSafe =
    copy(child = newChild)
}

/** Codegen-reachable helper (plain object → JVM static forwarder). */
object TsvSafeUtil {
  def check(s: UTF8String): UTF8String = {
    if (hasBad(s, pipe = false))
      throw new IllegalArgumentException(
        s"Sinks TSV domain violation (tab/newline in value): $s")
    s
  }

  def checkElements(a: ArrayData): ArrayData = {
    var i = 0
    while (i < a.numElements()) {
      if (!a.isNullAt(i) && hasBad(a.getUTF8String(i), pipe = true))
        throw new IllegalArgumentException(
          s"Sinks TSV domain violation (tab/newline/'|' in array element): " +
            a.getUTF8String(i))
      i += 1
    }
    a
  }

  /** Whether `s` holds a \t / \n / \r (or a `|`, when `pipe`). */
  private def hasBad(s: UTF8String, pipe: Boolean): Boolean = {
    val n = s.numBytes()
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (b == '\t' || b == '\n' || b == '\r' || (pipe && b == '|')) return true
      i += 1
    }
    false
  }
}
