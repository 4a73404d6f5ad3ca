package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.typedLit
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, IntegerType, StringType}

/** Occurrences of any `stops` element in the `tokens` array, as a
  * native codegen'd expression. The HOF form
  * `size(filter(toks, t => array_contains(stops, t)))` is
  * CodegenFallback — three interpreted lambdas per row on the
  * language-ID/quality-score hot path. Here the stopword list (a
  * constant-folded literal array) is scanned in a fused nested loop of
  * UTF8String comparisons inside whole-stage codegen.
  *
  * Null tokens are skipped (array_contains(stops, null) is null, which
  * filter() drops — same count); a null tokens array yields null. */
case class StopwordHits(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(StringType), ArrayType(StringType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "stopword_hits"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val toks = l.asInstanceOf[ArrayData]
    val stops = r.asInstanceOf[ArrayData]
    var cnt = 0
    var i = 0
    val n = toks.numElements()
    val m = stops.numElements()
    while (i < n) {
      if (!toks.isNullAt(i)) {
        val t = toks.getUTF8String(i)
        var j = 0
        var hit = false
        while (j < m && !hit) {
          if (!stops.isNullAt(j) && t.equals(stops.getUTF8String(j))) hit = true
          j += 1
        }
        if (hit) cnt += 1
      }
      i += 1
    }
    java.lang.Integer.valueOf(cnt)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val cnt = ctx.freshName("cnt")
      val t = ctx.freshName("t")
      val hit = ctx.freshName("hit")
      s"""int $n = $l.numElements();
         |int $m = $r.numElements();
         |int $cnt = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($l.isNullAt($i)) continue;
         |  UTF8String $t = $l.getUTF8String($i);
         |  boolean $hit = false;
         |  for (int $j = 0; $j < $m && !$hit; $j++) {
         |    if (!$r.isNullAt($j) && $t.equals($r.getUTF8String($j))) $hit = true;
         |  }
         |  if ($hit) $cnt++;
         |}
         |${ev.value} = $cnt;
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): StopwordHits =
    copy(left = newLeft, right = newRight)
}

object StopwordHits {
  def ofColumns(tokens: Column, stops: Seq[String]): Column =
    ExpressionUtils.column(StopwordHits(
      ExpressionUtils.expression(tokens),
      ExpressionUtils.expression(typedLit(stops))))
}
