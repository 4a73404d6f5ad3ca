package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared scalar expressions distilled from the reference engine.
  *
  * All helpers are plain Catalyst expression trees (no UDFs), so they stay
  * inside whole-stage codegen and remain pushdown/prune-friendly at scale.
  *
  * Reference citations point into /root/reference (read-only).
  */
object Exprs {

  /** Thickness of the overlap between a horizon [hzdept, hzdepb) and a
    * depth slice [top, bot), clamped at 0.
    *
    * Closed form of the reference's IN-list overlap predicate
    * (gSSURGO_CreateSoilMap.py:10013-10022) and the accumulation
    * `hzT = min(hzdepb, bot) - max(hzdept, top)` at
    * gSSURGO_CreateSoilMap.py:8398 / gSSURGO_ValuTable.py:1553.
    */
  def depthOverlap(hzdept: Column, hzdepb: Column, top: Column, bot: Column): Column =
    greatest(lit(0), least(hzdepb, bot) - greatest(hzdept, top))

  def depthOverlap(hzdept: Column, hzdepb: Column, top: Int, bot: Int): Column =
    depthOverlap(hzdept, hzdepb, lit(top), lit(bot))

  /** True when a horizon interval overlaps the slice [top, bot) at all —
    * the filter the reference pushes into its horizon cursor (F4,
    * gSSURGO_CreateSoilMap.py:10013-10022). */
  def overlaps(hzdept: Column, hzdepb: Column, top: Column, bot: Column): Column =
    hzdepb > top && hzdept < bot

  /** 1-based ordinal of a Choice rating inside its ordered metadata domain
    * (mdstatdomdet.choicesequence; GetRatingDomain,
    * gSSURGO_CreateSoilMap.py:3865-3901). Values missing from the domain
    * (and nulls) sort after every member, mirroring the reference's
    * "append unknown values at the end" behavior.
    */
  def domainRank(rating: Column, domain: Seq[String]): Column = {
    val pos = array_position(lit(domain.toArray), rating)
    when(pos > 0, pos).otherwise(lit(domain.size + 1)).cast("double")
  }

  /** Null-rating sentinel replacement (nullratingreplacementvalue, e.g.
    * depth-to-water-table null -> 201 cm;
    * gSSURGO_CreateSoilMap.py:9725-9745). */
  def nullSentinel(rating: Column, sentinel: Double): Column =
    coalesce(rating, lit(sentinel))

  /** Exact-cents encoding used by the analog oracle queries: a 2-decimal
    * double becomes an integral double so downstream sums are exact in
    * IEEE754 and hash-comparable across engines. Uses the floor form
    * (see roundHalfUp below) rather than Spark round(): round() takes
    * BigDecimal's exact decimal expansion of the double while DuckDB's
    * round() scales in double math, and the two disagree when the
    * expansion sits on a .5 boundary (e11 r6 hash-fail was exactly one
    * such value summed over every event row). floor(c*100 + 0.5) is
    * plain double arithmetic — bit-identical in any engine — and the
    * SQL oracles mirror it as floor(x*100 + 0.5). Cast back to double
    * (Spark floor yields LONG) to keep the pre-existing column dtype. */
  def cents(c: Column): Column = floor(c * 100 + lit(0.5)).cast("double")

  /** Cross-engine-stable half-up rounding: floor(x·10^s + 0.5)/10^s.
    * Spark's round() goes through BigDecimal's exact decimal expansion
    * of the double while DuckDB's scales in double math — they disagree
    * when the expansion sits on a decimal .5 boundary. The floor form
    * is plain double arithmetic and produces the same bits in any
    * engine evaluating the same double. Use for OUTPUT rounding of
    * non-negative ratios whose operands are already engine-identical;
    * the SQL mirror is `floor((x)*1e<s> + 0.5)/1e<s>`. */
  def roundHalfUp(c: Column, scale: Int): Column = {
    val p = math.pow(10, scale)
    floor(c * p + 0.5) / p
  }
}
