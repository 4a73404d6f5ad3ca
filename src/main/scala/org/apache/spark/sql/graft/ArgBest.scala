package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Coalesce, CreateNamedStruct, EqualNullSafe, Expression, GreaterThan, If, IsNotNull, IsNull, KnownNotNull, LessThan, Literal, Not, Or, RowOrdering}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{BooleanType, DataType, StructField, StructType}

/** Top-1 per group with a FLAT buffer: `seen`, one slot per order key
  * and one per payload column. Same answers as
  * `max_by(struct(payload), struct(keys))` (or `min_by`), which Spark
  * cannot hash-aggregate: a struct-typed buffer is not fixed-width, so
  * every such pick plans as Sort + SortAggregate on both sides of its
  * exchange. Here, when every key and payload column is fixed-width
  * (numbers, dates, booleans), the buffer is too and Spark plans a
  * codegen'd HashAggregate on its own; a string or array column falls
  * back to SortAggregate exactly as before. One code path, no switch.
  *
  * Semantics, each the struct form's:
  *  - keys compare lexicographically, ascending with nulls first
  *    (struct ordering); doubles by SQL order (NaN greatest,
  *    -0.0 = 0.0);
  *  - on equal keys the first row seen wins, within a partition and
  *    across the merge (`max_by`'s strict comparison);
  *  - a row whose `where` is not true is skipped — the struct form's
  *    null ordering, which `max_by` skips;
  *  - the result is a struct of the payload, null for a group with no
  *    counted row.
  *
  * Children: `where` (boolean), then `nKeys` keys, then the payload,
  * named by `names`. */
case class ArgBest(children: Seq[Expression], nKeys: Int, names: Seq[String], isMax: Boolean)
    extends DeclarativeAggregate {

  require(nKeys > 0 && children.length == 1 + nKeys + names.length,
    s"arg_${if (isMax) "max" else "min"}: ${children.length} children for $nKeys keys and ${names.length} payload columns")

  private def where: Expression = children.head
  private def keys: Seq[Expression] = children.slice(1, 1 + nKeys)
  private def payload: Seq[Expression] = children.drop(1 + nKeys)

  override def prettyName: String = if (isMax) "arg_max" else "arg_min"
  override protected def stringArgs: Iterator[Any] = Iterator(children)
  override def nullable: Boolean = true
  override def dataType: DataType = StructType(names.zip(payload).map { case (n, p) =>
    StructField(n, p.dataType, p.nullable)
  })

  override def checkInputDataTypes(): TypeCheckResult =
    if (where.dataType != BooleanType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName: filter must be boolean, got ${where.dataType}")
    else keys.find(k => !RowOrdering.isOrderable(k.dataType)) match {
      case Some(k) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName: key ${k.sql} of type ${k.dataType.catalogString} is not orderable")
      case None => TypeCheckResult.TypeCheckSuccess
    }

  private lazy val seen = AttributeReference("seen", BooleanType, nullable = false)()
  private lazy val keyBuf = keys.indices.map(i => AttributeReference(s"k$i", keys(i).dataType)())
  private lazy val payBuf = names.zip(payload).map { case (n, p) => AttributeReference(n, p.dataType)() }

  override lazy val aggBufferAttributes: Seq[AttributeReference] = seen +: (keyBuf ++ payBuf)

  override lazy val initialValues: Seq[Expression] =
    Literal(false) +: (keyBuf ++ payBuf).map(a => Literal.create(null, a.dataType))

  /** Key `x` strictly ahead of `y` in the pick direction, nulls lowest;
    * never null. */
  private def ahead(x: Expression, y: Expression): Expression =
    if (isMax) And(IsNotNull(x), Or(IsNull(y), GreaterThan(x, y)))
    else And(IsNotNull(y), Or(IsNull(x), LessThan(x, y)))

  /** Key tuple `a` strictly ahead of `b`, lexicographically. */
  private def beats(a: Seq[Expression], b: Seq[Expression]): Expression =
    a.zip(b).init.foldRight(ahead(a.last, b.last)) { case ((x, y), rest) =>
      Or(ahead(x, y), And(EqualNullSafe(x, y), rest))
    }

  override lazy val updateExpressions: Seq[Expression] = {
    val counted = Coalesce(Seq(where, Literal(false)))
    val take = And(counted, Or(Not(seen), beats(keys, keyBuf)))
    Or(seen, counted) +: (keys ++ payload).zip(keyBuf ++ payBuf).map { case (in, buf) =>
      If(take, in, buf)
    }
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val take = And(seen.right, Or(Not(seen.left), beats(keyBuf.map(_.right), keyBuf.map(_.left))))
    Or(seen.left, seen.right) +: (keyBuf ++ payBuf).map(b => If(take, b.right, b.left))
  }

  override lazy val evaluateExpression: Expression = If(seen,
    CreateNamedStruct(names.zip(payload.zip(payBuf)).flatMap { case (n, (p, b)) =>
      Seq(Literal(n), if (p.nullable) b else KnownNotNull(b))
    }),
    Literal.create(null, dataType))

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): ArgBest =
    copy(children = newChildren)
}

/** Column-level entry; package escape as in [[CosineSim]]. */
object ArgBest {

  /** Struct of `payload` from the row whose `order` tuple is greatest
    * among rows with `where` true. */
  def max(order: Seq[Column], payload: Seq[(String, Column)], where: Column = lit(true)): Column =
    of(order, payload, where, isMax = true)

  /** Struct of `payload` from the row whose `order` tuple is least
    * among rows with `where` true. */
  def min(order: Seq[Column], payload: Seq[(String, Column)], where: Column = lit(true)): Column =
    of(order, payload, where, isMax = false)

  private def of(order: Seq[Column], payload: Seq[(String, Column)], where: Column,
      isMax: Boolean): Column = {
    val children = (where +: (order ++ payload.map(_._2))).map(ExpressionUtils.expression)
    ExpressionUtils.column(
      ArgBest(children, order.length, payload.map(_._1), isMax).toAggregateExpression())
  }
}
