package graft.catalyst

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.analysis.Analyzer

/** The analysis chain (tokenize -> stop-filter -> Porter stem) as a native
  * Catalyst expression with whole-stage codegen (SURVEY.md §7.3's
  * documented v2 escape hatch beyond the UDF): `doGenCode` emits a direct
  * static call — no ScalaUDF closure dispatch, no encoder round-trip for
  * the result array; output is built as UTF8String ArrayData directly.
  *
  * Registered as SQL function `code_analyze(text[, stem])` by
  * [[GraftExtensions]] (spark.sql.extensions) or
  * [[GraftExtensions.register]] on a live session.
  */
case class CodeAnalyze(child: Expression, stem: Boolean)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    CodeAnalyze.analyze(input.asInstanceOf[UTF8String], stem)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.catalyst.CodeAnalyze.analyze($c, $stem)")

  override protected def withNewChildInternal(newChild: Expression): CodeAnalyze =
    copy(child = newChild)

  override def prettyName: String = "code_analyze"
}

object CodeAnalyze {

  /** Static entry invoked from generated code. */
  def analyze(s: UTF8String, stem: Boolean): ArrayData = {
    val terms = Analyzer.of(stem).analyze(s.toString)
    val out = new Array[Any](terms.length)
    var i = 0
    while (i < terms.length) { out(i) = UTF8String.fromString(terms(i)); i += 1 }
    new GenericArrayData(out)
  }
}
