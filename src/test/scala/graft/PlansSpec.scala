package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.{Expression, Greatest, GreaterThan, LessThan, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Exprs

/** DepthOverlapRule: overlap>0 filters become pushable range
  * conjunctions, and the rewrite is semantics-preserving. The test
  * session is [[GraftSession]]'s, so the rule runs inside the
  * session's own optimizer. */
class PlansSpec extends AnyFunSuite with PredicateHelper {
  import TestSpark._

  private val hzSchema = StructType(Seq(
    StructField("hzdept", DoubleType), StructField("hzdepb", DoubleType)))

  private def hz = df(hzSchema, Seq(
    Row(0.0, 25.0), Row(25.0, 75.0), Row(75.0, 150.0), Row(120.0, 100.0),
    Row(150.0, 210.0), Row(100.0, 100.0)))

  private def conjuncts(plan: LogicalPlan): Seq[Expression] =
    plan.collect { case Filter(c, _) => splitConjunctivePredicates(c) }.flatten

  private def attrNamed(e: Expression, name: String): Boolean =
    e.references.map(_.name).toSeq == Seq(name)

  test("rule rewrites overlap>0 into range predicates on the optimized plan") {
    // no hand-applied rule: the session's own optimizer must fire it
    val filtered = hz.filter(Exprs.depthOverlap(col("hzdept"), col("hzdepb"), 0, 100) > 0)
    val cs = conjuncts(filtered.queryExecution.optimizedPlan)
    assert(!cs.exists(_.exists(_.isInstanceOf[Greatest])), s"overlap form left in $cs")
    assert(cs.exists { case GreaterThan(b, _: Literal) =>
      attrNamed(b, "hzdepb"); case _ => false }, s"no hzdepb > TOP in $cs")
    assert(cs.exists { case LessThan(t, _: Literal) =>
      attrNamed(t, "hzdept"); case _ => false }, s"no hzdept < BOT in $cs")
  }

  test("rewrite is semantics-preserving, incl. malformed horizons") {
    val got = hz.filter(Exprs.depthOverlap(col("hzdept"), col("hzdepb"), 0, 100) > 0)
      .collect().map(_.toSeq).toSet
    // reference the rule cannot touch: the overlap as a projected
    // column (the rule rewrites Filter conditions only), filtered here
    val reference = hz
      .select(col("hzdept"), col("hzdepb"),
        Exprs.depthOverlap(col("hzdept"), col("hzdepb"), 0, 100).as("ov"))
      .collect().filter(r => r.getAs[Number]("ov").doubleValue > 0)
      .map(r => Seq(r.get(0), r.get(1))).toSet
    assert(got.nonEmpty)
    assert(got === reference)
    // malformed (120,100) and empty (100,100) horizons excluded by both
    assert(!got.contains(Seq(120.0, 100.0)))
    assert(!got.contains(Seq(100.0, 100.0)))
  }

  test("rule leaves ill-formed slices (BOT <= TOP) alone") {
    val filtered = hz.filter(Exprs.depthOverlap(col("hzdept"), col("hzdepb"), 100, 0) > 0)
    assert(filtered.count() === 0)
    // the constant-false original stays as it is: no range conjunction
    // (a LessThan, or the rule's hzdepb > hzdept guard) is introduced
    val cs = conjuncts(filtered.queryExecution.optimizedPlan)
    assert(!cs.exists(_.exists(_.isInstanceOf[LessThan])), s"range conjunct in $cs")
    assert(!cs.exists { case GreaterThan(b, t) =>
      attrNamed(b, "hzdepb") && attrNamed(t, "hzdept"); case _ => false }, s"guard in $cs")
  }

  test("Explain.stable cuts JVM lambda class names, which change on every run") {
    val dump = "Arguments: graft.mm.Multimodal$$$Lambda$6383/0x00007f5e358130c8@47e6fa81, obj#14602\n" +
      "Arguments: org.apache.spark.sql.internal.UDFAdaptors$$$Lambda/0x00007f5e35bd5978@23f40aa, value#3"
    assert(graft.tools.Explain.stable(dump) ===
      "Arguments: graft.mm.Multimodal$$$Lambda, obj#14602\n" +
      "Arguments: org.apache.spark.sql.internal.UDFAdaptors$$$Lambda, value#3")
  }
}
