package graft.wiki

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlShims
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The reference's whole parseText (CountReference.java:246-266) as one
  * codegen'd expression: the lazy `\[\[(.*?)\]\]` matcher runs once over
  * a page's text, and each match is cleaned in plain Java, rules in the
  * reference's order:
  *   - E3: keep the part before the first `|` of the WHOLE match (:251-253);
  *   - F1: drop it if it holds any of the seven needles, as a substring
  *     (:254-256);
  *   - E4: strip every `[`, `]` and `,`, then `String.trim()` (:260);
  *   - F2: drop an empty result (:261).
  * The result is the page's cleaned targets, one per surviving match, in
  * text order; a null text gives null, which `explode` turns into no rows.
  * Runs inside WholeStageCodegen via a static call, like
  * [[graft.functions.NfcNormalize]].
  */
case class LinkTargets(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"link_targets expects string, got $t")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "link_targets"

  override def nullSafeEval(input: Any): Any =
    LinkTargets.extract(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.wiki.LinkTargets.extract($c)")

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

object LinkTargets {

  private val Link = java.util.regex.Pattern.compile(WikiPipeline.LinkRegex)
  private val Banned = WikiPipeline.BannedSubstrings.toArray

  def extract(text: UTF8String): ArrayData = {
    val out = new java.util.ArrayList[UTF8String]()
    val m = Link.matcher(text.toString)
    while (m.find()) {
      val whole = m.group()
      val bar = whole.indexOf('|')
      val ref = if (bar < 0) whole else whole.substring(0, bar)
      if (!Banned.exists(ref.contains)) {
        val kept = new java.lang.StringBuilder(ref.length)
        ref.foreach(c => if (c != '[' && c != ']' && c != ',') kept.append(c))
        val target = kept.toString.trim
        if (!target.isEmpty) out.add(UTF8String.fromString(target))
      }
    }
    new GenericArrayData(out.toArray)
  }

  def linkTargets(text: Column): Column =
    GraftSqlShims.column(LinkTargets(GraftSqlShims.expression(text)))
}
