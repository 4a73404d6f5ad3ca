package graft.sdv

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Materialize

import graft.core.Exprs
import graft.schema.SdvAttribute

/** The metadata-driven SDV query planner — the Spark re-expression of
  * CreateSoilMap's catalog-resolution + join-path-planning + aggregation
  * dispatch (SURVEY §3 stages 1-2-5; gSSURGO_CreateSoilMap.py:9578-11368).
  *
  * A query = (SdvAttribute row, SdvRequest runtime params). The planner:
  *  1. resolves the algorithm and tiebreak from the catalog row
  *     (GetSDVAtts :3689-3819),
  *  2. discovers the join path attribute-table → MAPUNIT by walking the
  *     mdstatrshipdet FK catalog (:10092-10111), composes left joins and
  *     pushes the per-level filters (comppct cutoff F2, NOTCOM
  *     exclusion, month range F5, rule semijoin F6, sql whereclause F9),
  *  3. standardizes to the (mukey, cokey, comppct, rating, ratingOrd)
  *     rating-table shape — Choice ratings ranked by their ordered
  *     domain (reversed for suitability interps, ruledesign==2,
  *     :9942-9944) — and null-handles per bZero / sentinel (F3),
  *  4. dispatches to the A1-A23 combinator selected by (algorithm,
  *     level flags) (:10612-10918).
  *
  * Everything stays one lazy DataFrame graph; Catalyst prunes the join
  * columns and pushes the filters into the scans.
  */
class SdvPlanner(
    tables: Map[String, DataFrame],
    domains: Map[String, Seq[String]] = Map.empty,
    fkCatalog: Seq[(String, String, String)] = SdvPlanner.defaultFks,
    shareBase: Boolean = false) {

  import SdvPlanner._

  /** With `shareBase` (the multi-query CreateSoilMaps batch loop,
    * [[graft.Graft.soilMaps]]), the mapunit⟕component join+filter is
    * materialized ONCE per comppct cutoff and every catalog row's
    * aggregation reads the checkpointed rows — without it, an N-row
    * catalog re-runs the same fact-table join N times inside one merged
    * plan (measured on the 6-leg p09 sweep: five duplicate scan+join
    * map stages at ~2-3 cpu-s each). Off by default: a single
    * CreateSoilMap query consumes the join once, where materialization
    * is pure overhead. Atomic per cutoff: concurrent plan() calls
    * checkpoint a cutoff once, the rest block on that fill. */
  private val baseMemo =
    new java.util.concurrent.ConcurrentHashMap[Int, DataFrame]

  /** child → (parent, join key) from the FK catalog. */
  private val parentOf: Map[String, (String, String)] =
    fkCatalog.map { case (parent, child, key) => child -> (parent, key) }.toMap

  /** Bottom-up join path from `tbl` to mapunit
    * (gSSURGO_CreateSoilMap.py:10092-10111; max depth 6 :10400). */
  def pathToMapunit(tbl: String): List[(String, String, String)] = {
    var cur = tbl
    var acc = List.empty[(String, String, String)]
    var depth = 0
    while (cur != "mapunit" && depth < 6) {
      val (parent, key) = parentOf.getOrElse(cur,
        throw new IllegalArgumentException(s"no FK path from $cur to mapunit"))
      acc = (cur, parent, key) :: acc
      cur = parent
      depth += 1
    }
    acc // top-down: (child, parent, key) starting nearest mapunit
  }

  def plan(att0: SdvAttribute, req: SdvRequest = SdvRequest()): DataFrame = {
    // bFuzzy override (GetSDVAtts, gSSURGO_CreateSoilMap.py:3719-3740):
    // rate an interpretation by its fuzzy value — ONLY the attribute
    // column (INTERPHR) and logical type change; the aggregation method
    // stays the attribute/request default (the reference dispatch runs
    // e.g. DCP over fuzzy values, :10839-10855).
    val att =
      if (req.bFuzzy && att0.attributetablename == "cointerp")
        att0.copy(attributecolumnname = "interphr",
          attributelogicaldatatype = "Float")
      else att0
    val algorithm = req.aggMethod.getOrElse(att.algorithmname)
    val tieLow = req.tieLow.getOrElse(att.tiebreakrule == -1)

    // F10 — RV low/high column swap: _r → _l/_h when the user asks for
    // the Low or High estimate (gSSURGO_CreateSoilMap.py:3776-3785).
    val attColName = req.rv match {
      case Some(s) if att.attributecolumnname.endsWith("_r") =>
        att.attributecolumnname.dropRight(1) + s
      case _ => att.attributecolumnname
    }

    // --- stage 2: join tree -------------------------------------------
    // Mapunit-level: the attribute table is mapunit itself or a direct
    // mukey satellite — 1:1 (muaggatt) or 1:N (mucropyld crop yields,
    // mutext notes). CreateRatingTable1S (:4146-4194) emits one output
    // row per satellite row, null-padded for mapunits with none; the
    // metadata whereclause (e.g. cropname = 'Corn') selects the slice.
    val isMapunitLevel = att.mapunitlevelattribflag == 1 ||
      att.attributetablename == "mapunit" ||
      (att.attributetablename != "component" &&
        parentOf.get(att.attributetablename).exists(_._1 == "mapunit"))

    if (isMapunitLevel) {
      // the whereclause restricts the SATELLITE side before the left
      // join — mapunits with no (matching) satellite rows still emit
      // one null-padded row (dMissing, :4181-4187)
      val src =
        if (att.attributetablename == "mapunit") {
          var mu = tables("mapunit")
          att.sqlwhereclause.foreach(w => mu = mu.filter(expr(w)))
          mu
        } else {
          var sat = tables(att.attributetablename)
          att.sqlwhereclause.foreach(w => sat = sat.filter(expr(w)))
          tables("mapunit").join(sat, Seq("mukey"), "left")
        }
      val base = src.select(col("mukey"), col(attColName).as("rating"))
      val muNumeric = att.attributelogicaldatatype != "Choice" &&
        att.attributelogicaldatatype != "String"
      val muScale = att.attributeprecision.map(math.max(0, _)).getOrElse(2)
      return SdvAgg.noAggregation(base, scale = muScale, numeric = muNumeric)
        .withColumnRenamed("rating", att.resultcolumnname)
    }

    // component chain (always mapunit ⟕ component with F2 filters;
    // :10318-10330, :5017)
    def compJoin = tables("mapunit").select(col("mukey"))
      .join(tables("component"), Seq("mukey"), "left")
      .filter(col("comppct_r") >= req.cutOff && !upper(col("compname")).eqNullSafe("NOTCOM"))
    // EAGER (r18): the batch base is consumed by every catalog leg, and
    // the legs' query stages run concurrently — a lazy fill was raced
    // and recomputed per leg (four lineitem scans measured on p09's
    // six-leg sweep); one blocking materialization is exactly what the
    // memo promises.
    val comp =
      if (shareBase)
        baseMemo.computeIfAbsent(req.cutOff,
          _ => Materialize.checkpoint(compJoin, eager = true))
      else compJoin

    var joined: DataFrame = att.attributetablename match {
      case "component" => comp
      case "cointerp" =>
        val ci0 = tables("cointerp").filter(col("ruledepth") === 0)
        val ci = att.nasisrulename match {
          // F6 — GetRuleKey (:3821-3863): when the distinterpmd catalog
          // is present, resolve the rule name to its RULEKEY set there
          // and broadcast-semi-join cointerp on MRULEKEY — the
          // reference's single biggest measured win (4min → seconds,
          // :10164-10175) and string-equality-free on the fact side.
          case Some(r) if tables.contains("distinterpmd") =>
            val keys = tables("distinterpmd")
              .filter(col("rulename") === r)
              .select(col("rulekey").as("mrulekey")).distinct()
            ci0.join(broadcast(keys), Seq("mrulekey"), "left_semi")
          case Some(r) => ci0.filter(col("rulename") === r)
          case None => ci0
        }
        comp.join(ci, Seq("cokey"), "left")
      case other =>
        // generic FK walk below component level
        pathToMapunit(other).foldLeft(comp) { case (df, (child, _, key)) =>
          if (child == "component") df
          else df.join(tables(child), Seq(key), "left")
        }
    }

    // month-range filter F5 (:10243-10262)
    (req.begMonth, req.endMonth) match {
      case (Some(b), Some(e)) => joined = joined.filter(col("monthseq").between(b, e))
      case _ => ()
    }

    // metadata whereclause F9 (:10139-10147)
    att.sqlwhereclause.foreach(w => joined = joined.filter(expr(w)))

    // --- stage 3: standardize to the rating-table shape ---------------
    val isChoice = att.attributelogicaldatatype == "Choice" ||
      att.attributelogicaldatatype == "String"
    val ratingRaw = col(attColName)

    // suitability interps rank their domain reversed (:9942-9944)
    val domain0 = att.tiebreakdomainname.flatMap(domains.get).getOrElse(Seq.empty)
    val domain = if (att.ruledesign.contains(2)) domain0.reverse else domain0

    // F3' — bZero null handling is algorithm-shaped: component-level
    // Dominant Condition over a domain'd Choice attribute ADMITS NULL
    // as its own condition class (AggregateCo_DCD_Domain keeps null
    // rows in its whereClause, gSSURGO_CreateSoilMap.py:7375-7383;
    // AggregateCo_DCD likewise, :5588-5593/5631-5633), while the
    // numeric/WTA paths zero-fill (:8088). With bZero off the null
    // rows are excluded on every path.
    val dcdNullClass = req.bZero && isChoice && domain.nonEmpty &&
      algorithm == "Dominant Condition" &&
      att.cmonthlevelattribflag != 1 && att.horzlevelattribflag != 1

    val rating: Column =
      if (dcdNullClass) ratingRaw
      else if (req.bZero) coalesce(ratingRaw, lit(0.0))
      else att.nullratingreplacementvalue match {
        case Some(v) if !isChoice => coalesce(ratingRaw, lit(v))
        case _ => ratingRaw
      }
    // rating↔domain comparison is case-insensitive in the reference
    // (dValues keyed by upper(); SURVEY §7 risk register)
    val ratingOrd: Column =
      if (isChoice && domain.nonEmpty) {
        val r = Exprs.domainRank(upper(rating), domain.map(_.toUpperCase))
        // the null class ranks BEFORE every domain value under
        // tiebreak-High (dValues[None] = [0, None], :7461-7463) and
        // after them under Low (:7465-7467) — domainRank already puts
        // null at domain.size+1, the Low placement
        if (dcdNullClass && !tieLow) when(rating.isNull, lit(0.0)).otherwise(r)
        else r
      }
      else if (isChoice) lit(0.0)
      else rating.cast("double")

    var rt = joined.select(col("mukey"),
      col("cokey"), col("comppct_r").cast("double").as("comppct"),
      rating.as("rating"), ratingOrd.as("ratingOrd"))
    if (!req.bZero && att.nullratingreplacementvalue.isEmpty)
      rt = rt.filter(col("rating").isNotNull) // F3

    // month-level inputs keep the month column for the A10-A17 pre-steps
    val isMonth = att.cmonthlevelattribflag == 1
    // the month-domain aggregates skip month rows whose rating is not in
    // the domain (the reference's dValues KeyError → pass, e.g. obsolete
    // 'Common' ponding class, gSSURGO_CreateSoilMap.py:6887-6890)
    if (isMonth && isChoice && domain.nonEmpty)
      rt = rt.filter(col("ratingOrd") <= domain.size)
    val isHz = att.horzlevelattribflag == 1 && !isMonth
    if (isHz)
      rt = joined.select(col("mukey"), col("cokey"),
        col("comppct_r").cast("double").as("comppct"),
        col("hzdept_r").cast("double").as("hzdept"),
        col("hzdepb_r").cast("double").as("hzdepb"),
        rating.as("rating"), ratingOrd.as("ratingOrd"))
        .filter(col("rating").isNotNull || lit(req.bZero))

    val notRatedOrd =
      if (domain.nonEmpty) Some(domain.size + 1.0) else None

    // K Factor is the ONLY family the reference routes to the
    // Hz_MaxMin_* aggregations (:10734-10741); every other hz attribute
    // under DCP/DCD/MaxMin falls through to the component-level Co_*
    // functions (:10762-10772, :10780-10810), which — fed horizon rows —
    // effectively collapse each component to its tiebreak-directed
    // extreme rating first (see SdvAgg.perComponentExtreme).
    val isKFactor = att.attributename.startsWith("K Factor")
    // Surface-named attributes route to the component-level Co_ path
    // regardless of datatype (:10762-10767) — their rating table is
    // already one (surface-horizon) row per component.
    val isSurface = att.attributename.startsWith("Surface") ||
      att.attributename.endsWith("(Surface)")
    def coHz(df: DataFrame): DataFrame =
      if (isHz) SdvAgg.perComponentExtreme(df, most = tieLow) else df

    // per-attribute precision (fldPrecision = max(0, attributeprecision),
    // e.g. :4765): metadata-driven when the catalog row carries it,
    // otherwise the engine defaults (2 for passthrough, 4 for means)
    val prec = att.attributeprecision.map(math.max(0, _))
    def p(default: Int): Int = prec.getOrElse(default)

    // --- stage 5: aggregation dispatch (:10612-10918) ------------------
    val out = algorithm match {
      case "No Aggregation Necessary" =>
        SdvAgg.noAggregation(rt, scale = p(2), numeric = !isChoice)
      case "Dominant Component" =>
        if (isHz && isKFactor) SdvAgg.hzMaxMinDcp(rt, req.top, req.bot, tieLow)
        else if (isHz && (isChoice || isSurface)) SdvAgg.dominantComponent(coHz(rt), tieLow) // Surface (any type) / choice → Co_DCP (:10762-10772)
        else if (isHz) SdvAgg.hzDcpWta(rt, req.top, req.bot, scale = p(4)) // numeric, horzaggmeth WTA (:10774-10776)
        else if (isMonth && isChoice) SdvAgg.moDomainDominantComponent(rt, tieLow)
        else if (isMonth) SdvAgg.moDominantComponent(rt,
          most = !tieLow, att.nullratingreplacementvalue, tieLow)
        else {
          val dcp = SdvAgg.dominantComponent(rt, tieLow)
          // reference-exact fldPrecision on the numeric DCP rating
          // (AggregateCo_DCP :4858-4871 rounds at
          // max(0, attributeprecision)): catalog-driven, half-up
          // pinned on both engine sides via Exprs.roundHalfUp — only
          // when the catalog row carries a precision (absent = raw
          // passthrough, the engine default)
          if (!isChoice && prec.isDefined)
            dcp.withColumn("rating", Exprs.roundHalfUp(col("rating"), prec.get))
          else dcp
        }
      case "Dominant Condition" =>
        if (isHz && isKFactor) SdvAgg.hzMaxMinDcd(rt, req.top, req.bot, tieLow)
        else if (isHz) SdvAgg.dominantCondition(coHz(rt), tieLow) // Surface choice → Co_DCD_Domain, numeric → Co_DCD (:10780-10805)
        else if (isMonth && isChoice) SdvAgg.moDomainDominantCondition(rt, tieLow)
        else if (isMonth) SdvAgg.moDominantCondition(rt,
          most = !tieLow, att.nullratingreplacementvalue, tieLow)
        else SdvAgg.dominantCondition(rt, tieLow)
      case "Weighted Average" =>
        if (isHz && att.horzaggmeth.contains("Weighted Sum"))
          SdvAgg.hzWtaSum(rt, req.top, req.bot, scale = p(4))
        else if (isHz) SdvAgg.hzWtaWta(rt, req.top, req.bot, scale = p(4))
        else if (isMonth) SdvAgg.moWeightedAverage(rt,
          most = !tieLow, att.nullratingreplacementvalue)
        else SdvAgg.weightedAverage(rt, scale = p(4))
      case "Minimum or Maximum" =>
        // hz choice → Co_MaxMin, the mapunit-wide extreme (:10807-10810);
        // hz numeric → Hz_MaxMin_WTA (:10812-10813)
        if (isHz && isChoice) SdvAgg.maxMin(coHz(rt), most = !tieLow, notRatedOrd)
        else if (isHz) SdvAgg.hzMaxMinWta(rt, most = !tieLow, req.top, req.bot, scale = p(4))
        else if (isMonth) SdvAgg.moMaxMin(rt, most = !tieLow)
        else SdvAgg.maxMin(rt, most = !tieLow, notRatedOrd)
      // NASIS interp-class domains are ordered most-limiting-first:
      // Most Limiting takes the MIN index, Least Limiting the MAX
      // (AggregateCo_Limiting, gSSURGO_CreateSoilMap.py:5166-5171 /
      // :5128-5133; 'Not rated' handled positionally-independently by
      // the rated-first flag in SdvAgg.limiting).
      case "Most Limiting" => SdvAgg.limiting(rt, most = false, notRatedOrd)
      case "Least Limiting" => SdvAgg.limiting(rt, most = true, notRatedOrd)
      case "Percent Present" =>
        // the matched percent IS the rating (AggregateCo_PP_SUM writes
        // muPct into the result column, :8290-8294) — rename so the
        // generic resultcolumnname rename below lands on it
        SdvAgg.percentPresent(rt, tables("mapunit").select(col("mukey")), lit(true))
          .withColumnRenamed("comppct", "rating")
      case other =>
        throw new IllegalArgumentException(s"unknown algorithm: $other")
    }
    out.withColumnRenamed("rating", att.resultcolumnname)
  }
}

object SdvPlanner {
  /** Runtime query parameters (the user half of the CreateSoilMap
    * request; SURVEY §3 entry point 1). */
  case class SdvRequest(
      aggMethod: Option[String] = None,
      top: Int = 0, bot: Int = 1,
      begMonth: Option[Int] = None, endMonth: Option[Int] = None,
      tieLow: Option[Boolean] = None,
      cutOff: Int = 0,
      bZero: Boolean = false,
      rv: Option[String] = None, // Some("l")/Some("h") → F10 column swap
      bFuzzy: Boolean = false) { // rate interps by fuzzy value (INTERPHR)

    /** Month span by NAME — the dialog's vocabulary. `months("April",
      * "October")` ≡ MONTHSEQ ∈ [4, 10] (the reference builds the
      * filter from ListMonths indexes, :10209-10222; no wraparound —
      * a Nov–Feb request is the user's error there too). */
    def months(beg: String, end: String): SdvRequest =
      copy(begMonth = Some(monthSeq(beg)), endMonth = Some(monthSeq(end)))
  }

  /** ListMonths (gSSURGO_CreateSoilMap.py:3613-3622): January = 1 …
    * December = 12 (index 0 is the reference's 'NULL' placeholder).
    * Flooding/ponding are annual ratings — omitting the span keeps the
    * default full year, matching the dialog's January–December. */
  val monthNames: Seq[String] = Seq("January", "February", "March", "April",
    "May", "June", "July", "August", "September", "October", "November", "December")

  def monthSeq(name: String): Int = {
    val i = monthNames.indexWhere(_.equalsIgnoreCase(name))
    require(i >= 0, s"unknown month name: $name")
    i + 1
  }

  /** Default FK catalog (parent, child, key) — the subset of
    * mdstatrshipdet the analytic surface walks
    * (Create_SSURGO_RelationshipClasses.py:174-503). Callers can pass
    * the real mdstatrshipdet rows instead. */
  val defaultFks: Seq[(String, String, String)] = Seq(
    ("mapunit", "component", "mukey"),
    ("mapunit", "muaggatt", "mukey"),
    ("mapunit", "mucropyld", "mukey"),
    ("mapunit", "mutext", "mukey"),
    ("component", "chorizon", "cokey"),
    ("component", "cointerp", "cokey"),
    ("component", "comonth", "cokey"),
    ("component", "corestrictions", "cokey"),
    ("comonth", "cosoilmoist", "comonthkey"),
    ("chorizon", "chtexturegrp", "chkey"),
    ("chorizon", "chfrags", "chkey"),
    ("chtexturegrp", "chtexture", "chtgkey"))

  /** Load (parent, child, key) triples from a real mdstatrshipdet
    * DataFrame (small catalog — collected to the driver, exactly like
    * the reference's dict). */
  def fksFromCatalog(mdstatrshipdet: DataFrame): Seq[(String, String, String)] =
    mdstatrshipdet.select("ltabphyname", "rtabphyname", "ltabcolphyname")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSeq
}
