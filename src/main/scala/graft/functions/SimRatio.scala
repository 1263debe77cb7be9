package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import graft.kernel.SeqMatcher

/** Catalyst expression `sim_ratio(a, b)` → difflib
  * `SequenceMatcher(None, a, b).ratio()` (Ratcliff-Obershelp, CPython-parity
  * port in [[graft.kernel.SeqMatcher]]) — the J2 fuzzy-lookup similarity
  * (`template.py:189-193`) as a native expression rather than a Scala UDF:
  * no ScalaUDF node in the plan, null-safe, analysis-time typed (SURVEY §7.4).
  * CodegenFallback is deliberate — the kernel is opaque Scala and generated
  * code would just call back into it. */
case class SimRatio(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes with CodegenFallback {

  override def prettyName: String = "sim_ratio"
  override def inputTypes = Seq(StringType, StringType)
  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SeqMatcher.ratio(a.toString, b.toString)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SimRatio {
  /** Column-API helper mirroring difflib's argument convention at the call
    * site (callers pass (possibility, word) when scoring candidates). */
  def column(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      SimRatio(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  }
}
