package graft.queries

import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}
import graft.analog.Analog._
import graft.analog.OracleSql
import graft.core.Exprs
import graft.io.PipeCsv
import graft.report.Reports
import graft.sdv.SdvAgg

/** Sources/sinks (S1, S6, S7, S8, S10) and reports (R1, R2/R3) from
  * SURVEY.md §2.1 / §2.6. */
object MiscQueries extends QuerySet {

  val all: Seq[Q] = Seq(

    // S1 — pipe-delimited SSURGO text roundtrip
    // (SSURGO_Convert_to_Geodatabase.py:1135-1590): write the region dim
    // as |-delimited text, read it back through the schema-registry
    // reader (explicit schema, blank→NULL).
    Q("s01_pipe_csv_roundtrip",
      (s, dir) => {
        // planted cp1252-only characters (curly quotes = bytes
        // 0x91-0x94 on disk, en-dash, €, Œ, accent): the roundtrip
        // must land them byte-for-byte where the reference's cp1252
        // decode does — an iso-8859-1-only path would emit C1 control
        // characters and fail the hash
        val planted = s.createDataFrame(Seq(
          (90, "Curly ‘single’ and “double” quotes"),
          (91, "Café – dash … €1 Œuvre ™")))
          .toDF("r_regionkey", "r_name")
        val region = Tables.load(s, dir, "region")
          .select(col("r_regionkey"), col("r_name")).unionByName(planted)
        val tmp = GraftSession.scratch(s, "s01", dir)
        PipeCsv.write(region, tmp)
        PipeCsv.read(s, tmp, region.schema)
      },
      Some("""SELECT r_regionkey, r_name FROM region
             |UNION ALL
             |SELECT * FROM (VALUES
             |  (90, 'Curly ‘single’ and “double” quotes'),
             |  (91, 'Café – dash … €1 Œuvre ™')) t(r_regionkey, r_name)""".stripMargin)),

    // S4 — the WSS download connector end-to-end WITHOUT the network:
    // canned zip bytes (the injected transport) → unzip into the
    // soil_<ssa> per-survey layout (SSURGO_BatchDownload.py:427-480) →
    // schema-registry import → areasymbol-partitioned lake → query.
    // Two survey areas split the region dimension; the zips carry the
    // real WSS shape (SSA-named top folder, tabular/*.txt pipe-CSV).
    Q("s04_wss_canned_zip",
      (s, dir) => {
        import java.util.zip.{ZipEntry, ZipOutputStream}
        val root = GraftSession.freshScratch(s, "s04", dir)
        val conf = s.sparkContext.hadoopConfiguration
        // region is TPC-H's fixed 5-row dimension — bounded driver-side
        // work to fabricate the download artifacts, not a data scan
        val rows = Tables.load(s, dir, "region")
          .select(col("r_regionkey").cast("string"), col("r_name")).collect()
        def canned(area: String, lkey: String, keep: Int => Boolean): Array[Byte] = {
          val bos = new java.io.ByteArrayOutputStream()
          val z = new ZipOutputStream(bos)
          def entry(path: String, lines: Seq[String]): Unit = {
            z.putNextEntry(new ZipEntry(s"$area/$path"))
            z.write(lines.mkString("\n").getBytes("ISO-8859-1"))
            z.closeEntry()
          }
          entry("tabular/legend.txt", Seq(s"$lkey|$area"))
          entry("tabular/mapunit.txt", rows.toSeq
            .filter(r => keep(r.getString(0).toInt))
            .map(r => s"${r.getString(0)}|${r.getString(1)}|${r.getString(1)}|$lkey"))
          z.close()
          bos.toByteArray
        }
        val transport: String => Array[Byte] = Map(
          graft.io.WssLayout.zipName("XX001", "2025-01-01") ->
            canned("XX001", "L1", _ % 2 == 0),
          graft.io.WssLayout.zipName("XX002", "2025-01-01") ->
            canned("XX002", "L2", _ % 2 == 1))
        val landing = s"$root/landing"
        val surveys = Seq("XX001", "XX002").map { a =>
          val zn = graft.io.WssLayout.zipName(a, "2025-01-01")
          graft.io.WssLayout.landZip(conf, landing, zn, transport(zn))
          graft.Graft.loadSurvey(s, landing, a)
        }
        graft.Graft.landSurveys(surveys, s"$root/lake")
        graft.io.Lake.read(s, s"$root/lake", "mapunit")
          .join(graft.io.Lake.read(s, s"$root/lake", "legend"), Seq("lkey"))
          .select(col("mukey"), col("musym"), col("areasymbol"))
      },
      Some("""SELECT CAST(r_regionkey AS VARCHAR) AS mukey, r_name AS musym,
             |       CASE WHEN r_regionkey % 2 = 0 THEN 'XX001' ELSE 'XX002' END
             |         AS areasymbol
             |FROM region""".stripMargin)),

    // S2 — metadata (mdstat*) import: WSS short-named text files land
    // in the tabular folder (msrsdet.txt, msdomdet.txt); loadMetadata
    // maps them to mdstatrshipdet/mdstatdomdet through the schema
    // registry (ImportMDTabular, SSURGO_Convert_to_Geodatabase.py:
    // 827-952) and the planner consumes both: the FK catalog feeds the
    // join-path walk, the domain table feeds GetRatingDomain. The gate
    // exercises blank→NULL, the obsolete-choice filter, sequence-order
    // (not alphabetic) ranking, dedup, and the iso-8859-1 roundtrip.
    Q("s02_metadata_import",
      (s, dir) => {
        import graft.sdv.SdvPlanner
        import graft.schema.SdvCatalog
        val root = GraftSession.scratch(s, "s02", dir)
        val area = "NE109"
        val fk = s.createDataFrame(
          SdvPlanner.defaultFks.map { case (p, c, k) => (p, c, k, k) })
          .toDF("ltabphyname", "rtabphyname", "ltabcolphyname", "rtabcolphyname")
        val dom = s.createDataFrame(Seq(
          ("flooding_frequency_class", "None", 1, "No"),
          ("flooding_frequency_class", "Very rare", 2, "No"),
          ("flooding_frequency_class", "Rare", 3, "No"),
          ("flooding_frequency_class", "Occasional", 4, "No"),
          ("flooding_frequency_class", "Common", 5, "Yes"),
          ("flooding_frequency_class", "Frequent", 6, "No"),
          ("flooding_frequency_class", "Very frequent", 7, "No"),
          ("flooding_frequency_class", "Ponded", 8, null.asInstanceOf[String]),
          ("series_name_class", "Coteaux élevés", 1, "No")))
          .toDF("domainname", "choice", "choicesequence", "choiceobsolete")
        PipeCsv.write(fk, graft.io.WssLayout.tabularPath(root, area, "msrsdet"))
        PipeCsv.write(dom, graft.io.WssLayout.tabularPath(root, area, "msdomdet"))
        val md = graft.Graft.loadMetadata(s, root, area)
        // both metadata tables are consumed, not just round-tripped:
        // the FK catalog drives the planner's join-path walk…
        val path = new SdvPlanner(Map.empty,
          fkCatalog = SdvPlanner.fksFromCatalog(md("mdstatrshipdet")))
          .pathToMapunit("chtexture").map(_._1).mkString(">")
        // …and the domain table yields the planner's ordered ranks
        val ranks = SdvCatalog.domainsFrom(md("mdstatdomdet")).toSeq
          .flatMap { case (d, cs) =>
            cs.zipWithIndex.map { case (c, i) => (d, c, i + 1.0) } }
        val rankDf = s.createDataFrame(ranks).toDF("domainname", "choice", "ord")
        md("mdstatdomdet")
          .join(broadcast(rankDf), Seq("domainname", "choice"), "left")
          .select(col("domainname"), col("choice"), col("choicesequence"),
            col("choiceobsolete"), col("ord"), lit(path).as("fk_path"))
      },
      Some("""WITH md(domainname, choice, choicesequence, choiceobsolete, ord) AS (VALUES
             |  ('flooding_frequency_class', 'None', 1, 'No', 1.0),
             |  ('flooding_frequency_class', 'Very rare', 2, 'No', 2.0),
             |  ('flooding_frequency_class', 'Rare', 3, 'No', 3.0),
             |  ('flooding_frequency_class', 'Occasional', 4, 'No', 4.0),
             |  ('flooding_frequency_class', 'Common', 5, 'Yes', NULL),
             |  ('flooding_frequency_class', 'Frequent', 6, 'No', 5.0),
             |  ('flooding_frequency_class', 'Very frequent', 7, 'No', 6.0),
             |  ('flooding_frequency_class', 'Ponded', 8, NULL, NULL),
             |  ('series_name_class', 'Coteaux élevés', 1, 'No', 1.0))
             |SELECT domainname, choice, CAST(choicesequence AS INT) AS choicesequence,
             |       choiceobsolete, CAST(ord AS DOUBLE) AS ord,
             |       'component>chorizon>chtexturegrp>chtexture' AS fk_path
             |FROM md""".stripMargin)),

    // S5 — SDA tabular REST contract (GetNatMusym.py:241-430): payload
    // building (format flag, quote/newline escaping) and Table-payload
    // parsing (column-name row, metadata row dropped, all-TEXT schema)
    // through an injected canned transport — the HTTP hop itself is
    // out-of-band (zero-egress; SURVEY §3 scopes SDA as oracle, not
    // data path). The oracle hardcodes both the parsed rows and the
    // exact payload string, so an escaping or row-skipping change
    // fails the gate.
    Q("s05_sda_parse",
      (s, dir) => {
        import graft.io.SdaClient
        val sql = "SELECT mukey, nationalmusym FROM mapunit WHERE mukey IN ('107559', '107646')"
        val canned: String => Seq[Seq[String]] = _ => Seq(
          Seq("mukey", "nationalmusym"),
          Seq("ColumnOrdinal=0,ProviderType=VarChar", "ColumnOrdinal=1,ProviderType=VarChar"),
          Seq("107559", "2tjpl"), Seq("107646", "2tjpn"))
        SdaClient.query(s, sql, canned)
          .withColumn("payload", lit(SdaClient.requestPayload(sql)))
      },
      Some("""SELECT * FROM (VALUES
             |  ('107559', '2tjpl'), ('107646', '2tjpn')) t(mukey, nationalmusym),
             |  (SELECT '{"format":"JSON+COLUMNNAME+METADATA","query":"SELECT mukey, nationalmusym FROM mapunit WHERE mukey IN (''107559'', ''107646'')"}' AS payload) p""".stripMargin)),

    // R5 — GetNatMusym's table update (GetNatMusym.py:378-397): the
    // SDA mukey→nationalmusym result (canned here; s05 gates the wire
    // contract, batching is property-tested) updates the local
    // mapunit; mukeys with no SDA row keep their existing value
    // unchanged (the cursor's except path only records them).
    Q("r06_natmusym_update",
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
        val mapunit = o.select(col("o_orderkey").cast("string").as("mukey"),
          when(col("o_orderkey") % 3 === 0, "stale").as("natmusym"))
        val sda = o.filter(col("o_orderkey") % 7 === 0)
          .select(col("o_orderkey").cast("string").as("mukey"),
            concat(lit("n"), col("o_orderkey").cast("string")).as("nationalmusym"))
        mapunit.join(sda, Seq("mukey"), "left")
          .select(col("mukey"),
            coalesce(col("nationalmusym"), col("natmusym")).as("natmusym"),
            col("nationalmusym").isNull.as("no_match"))
      },
      Some("""SELECT CAST(o_orderkey AS VARCHAR) AS mukey,
             |       CASE WHEN o_orderkey % 7 = 0 THEN 'n' || CAST(o_orderkey AS VARCHAR)
             |            WHEN o_orderkey % 3 = 0 THEN 'stale' END AS natmusym,
             |       o_orderkey % 7 <> 0 AS no_match
             |FROM orders""".stripMargin)),

    // S6/S10 — multi-survey union + by-key dedup
    // (SSURGO_MergeDatabases.py:395-845).
    Q("s06_union_merge_dedup",
      (s, dir) => {
        val sup = Tables.load(s, dir, "supplier")
        PipeCsv.mergeDedup(Seq(sup, sup), Seq("s_suppkey"))
      },
      Some("SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier")),

    // S7 — mukey→int rasterization lookup (SSURGO_ExportMuRaster.py:
    // 1252-1357): dense ids over the key domain into CELLVALUE ints,
    // via range-partitioned sorted zipWithIndex (graft.core.DenseId) —
    // no global-order window, no single-partition exchange.
    Q("s07_mukey_lookup",
      (s, dir) => {
        val keys = Tables.load(s, dir, "orders")
          .select(col("o_orderkey").as("mukey"))
        keys.join(graft.core.DenseId.lookup(keys, "mukey"), Seq("mukey"))
      },
      Some("""SELECT o_orderkey AS mukey,
             |       CAST(dense_rank() OVER (ORDER BY o_orderkey) AS BIGINT) AS cellvalue
             |FROM orders""".stripMargin)),

    // S8 — rating-raster export join (gSSURGO_ExportRasters.py:720-1746):
    // cell → mukey → rating via a broadcast of the rating table.
    Q("s08_rating_raster_join",
      (s, dir) => {
        val cells = comp(s, dir).select(col("cokey").as("cellvalue"), col("mukey"))
        val rating = SdvAgg.weightedAverage(compNumeric(s, dir))
          .select(col("mukey"), col("rating"))
        cells.join(broadcast(rating), Seq("mukey")).select("cellvalue", "rating")
      },
      Some(withCtes(
        """SELECT c.cokey AS cellvalue, w.rating
          |FROM comp c JOIN (SELECT mukey, floor((sum(comppct*rating)/sum(comppct))*1e4 + 0.5)/1e4 AS rating,
          |                         sum(comppct) AS comppct
          |                  FROM comp GROUP BY mukey) w ON c.mukey = w.mukey""".stripMargin,
        compCte))),

    // R2 subtotal shape — the acreage report's per-class rows PLUS the
    // grand-total row (the reference prints the total after the class
    // loop, gSSURGO_AcreageReport.py:299-327) as ONE rollup aggregation
    // instead of a second pass; the total row carries a null rating,
    // exactly as GROUP BY ROLLUP emits it in any engine.
    Q("r05_acreage_rollup",
      (s, dir) => {
        val rating = SdvAgg.dominantComponent(compChoice(s, dir))
          .select(col("mukey"), col("rating"))
        val areas = Tables.load(s, dir, "orders")
          .select(col("o_orderkey").as("mukey"),
            Exprs.cents(col("o_totalprice")).as("area"))
        rating.join(areas, Seq("mukey"))
          .rollup(col("rating"))
          .agg(Exprs.roundHalfUp(sum(col("area")) * 0.000247105 / 100, 2).as("acres"),
            count(lit(1)).as("n_mapunits"))
      },
      Some(withCtes(
        """SELECT d.rating,
          |       floor((sum(a.area)*0.000247105/100)*1e2 + 0.5)/1e2 AS acres,
          |       count(*) AS n_mapunits
          |FROM dcp d
          |JOIN (SELECT o_orderkey AS mukey, floor(o_totalprice*100 + 0.5) AS area
          |      FROM orders) a ON d.mukey = a.mukey
          |GROUP BY ROLLUP(d.rating)""".stripMargin,
        compCte,
        "compc AS (SELECT mukey, cokey, comppct, crating AS rating, cord AS ord FROM comp)",
        s"dcp AS (${OracleSql.dcp("compc")})"))),

    // R9 (semantic core) — classified legend + progressive color ramp
    // (gSSURGO_CreateSoilMap.py:512-591, BezierColorRamp.py:213-279):
    // 8 equal-interval classes over the weighted-average rating with a
    // red→blue two-color ramp; with two control points the reference's
    // Bezier is degree-1, i.e. per-channel lerp with per-summand int()
    // truncation, mirrored op-for-op by the oracle.
    Q("r07_legend_colors",
      (s, dir) => {
        val rating = SdvAgg.weightedAverage(compNumeric(s, dir))
          .select(col("mukey"), col("rating"))
        Reports.legendColorRamp(rating, "rating", 8, (255, 0, 0), (0, 0, 255))
      },
      Some(withCtes(
        """SELECT cls.class_idx,
          |       floor((vmin + cls.class_idx*((vmax-vmin)/8))*1e4 + 0.5)/1e4 AS lo,
          |       floor((vmin + (cls.class_idx+1)*((vmax-vmin)/8))*1e4 + 0.5)/1e4 AS hi,
          |       CAST(floor((1.0 - cls.class_idx/7.0)*255)
          |            + floor((cls.class_idx/7.0)*0) AS BIGINT) AS r,
          |       CAST(0 AS BIGINT) AS g,
          |       CAST(floor((1.0 - cls.class_idx/7.0)*0)
          |            + floor((cls.class_idx/7.0)*255) AS BIGINT) AS b,
          |       coalesce(n_units, 0) AS n_units
          |FROM cls CROSS JOIN st LEFT JOIN cnt ON cls.class_idx = cnt.class_idx""".stripMargin,
        compCte,
        """wta AS (SELECT mukey,
          |          floor((sum(comppct*rating)/sum(comppct))*1e4 + 0.5)/1e4 AS rating
          |        FROM comp GROUP BY mukey)""".stripMargin,
        "st AS (SELECT min(rating) AS vmin, max(rating) AS vmax FROM wta)",
        "cls AS (SELECT unnest(generate_series(0, 7)) AS class_idx)",
        """cnt AS (SELECT CASE WHEN vmax = vmin THEN 0
          |               ELSE least(CAST(floor((rating - vmin)/((vmax - vmin)/8)) AS BIGINT), 7)
          |               END AS class_idx,
          |               count(*) AS n_units
          |        FROM wta CROSS JOIN st GROUP BY 1)""".stripMargin))),

    // R9 (JSON class breaks) — CreateJSONLegend
    // (gSSURGO_CreateSoilMap.py:1495-2028, blob cap :9622-9631): the
    // r07 classes render through the REAL Names.legendJson (an 8-row
    // bounded collect, the reference's own legend size) and the blob is
    // re-parsed with from_json/inline back to typed rows — gating the
    // structure and values without coupling the oracle to Java double
    // formatting (labels are index-based for the same reason: Java
    // prints doubles ≥ 1e7 in scientific notation, DuckDB never does).
    Q("r08_legend_json",
      (s, dir) => {
        import s.implicits._
        val rating = SdvAgg.weightedAverage(compNumeric(s, dir))
          .select(col("mukey"), col("rating"))
        val classes = Reports
          .legendColorRamp(rating, "rating", 8, (255, 0, 0), (0, 0, 255))
          .orderBy("class_idx").collect()
          .map(r => (s"Class ${r.getLong(0)}", r.getDouble(1), r.getDouble(2)))
          .toSeq
        val blob = graft.core.Names.legendJson("WTA rating", classes)
        val schema = "STRUCT<title: STRING, classes: ARRAY<STRUCT<label: STRING, min: DOUBLE, max: DOUBLE>>>"
        Seq(blob).toDF("j")
          .select(from_json(col("j"), schema, Map.empty[String, String]).as("l"))
          .select(col("l.title").as("title"), inline(col("l.classes")))
          .select(col("title"), col("label"), col("min"), col("max"))
      },
      Some(withCtes(
        """SELECT 'WTA rating' AS title,
          |       'Class ' || CAST(class_idx AS VARCHAR) AS label,
          |       lo AS min, hi AS max
          |FROM (SELECT cls.class_idx,
          |             floor((vmin + cls.class_idx*((vmax-vmin)/8))*1e4 + 0.5)/1e4 AS lo,
          |             floor((vmin + (cls.class_idx+1)*((vmax-vmin)/8))*1e4 + 0.5)/1e4 AS hi
          |      FROM cls CROSS JOIN st)""".stripMargin,
        compCte,
        """wta AS (SELECT mukey,
          |          floor((sum(comppct*rating)/sum(comppct))*1e4 + 0.5)/1e4 AS rating
          |        FROM comp GROUP BY mukey)""".stripMargin,
        "st AS (SELECT min(rating) AS vmin, max(rating) AS vmax FROM wta)",
        "cls AS (SELECT unnest(generate_series(0, 7)) AS class_idx)"))),

    // R1 — GetDominantComponent.py:89-117 (ORDER BY comppct DESC,
    // cokey DESC, first wins).
    Q("r01_dominant_component_key",
      (s, dir) => Reports.dominantComponentKey(comp(s, dir)),
      Some(withCtes(
        """SELECT mukey, cokey FROM (
          |  SELECT mukey, cokey, row_number() OVER (PARTITION BY mukey
          |    ORDER BY comppct DESC, cokey DESC) AS rn
          |  FROM comp) t WHERE rn = 1""".stripMargin, compCte))),

    // R4 — report rendering, the distributed body pass
    // (SDV_AttributeReport.py:65-251 / gSSURGO_TabularReport.py:63-310):
    // the DCP rating table renders to the same fixed-width golden-form
    // lines as SdvReport.render, but widths come from a broadcast
    // one-row aggregate — no collect, no global window — so the layer
    // scales to any report size; mukey keys the report order.
    Q("r04_report_lines",
      (s, dir) => {
        val rt = SdvAgg.dominantComponent(compChoice(s, dir))
          .select(col("mukey"),
            col("mukey").cast("string").as("map_unit"),
            col("rating"),
            col("comppct").cast("long").cast("string").as("pct"))
        graft.report.SdvReport.renderLines(rt, "mukey", Seq("map_unit", "rating", "pct"))
      },
      Some(withCtes(
        """SELECT r.mukey,
          |       concat('| ', rpad(coalesce(map_unit, '--'), wm, ' '),
          |              ' | ', rpad(coalesce(rating, '--'), wr, ' '),
          |              ' | ', rpad(coalesce(pct, '--'), wp, ' '), ' |') AS line
          |FROM r, w""".stripMargin,
        compCte,
        "compc AS (SELECT mukey, cokey, comppct, crating AS rating, cord AS ord FROM comp)",
        s"dcp AS (${OracleSql.dcp("compc")})",
        """r AS (SELECT mukey, CAST(mukey AS VARCHAR) AS map_unit, rating,
          |              CAST(CAST(comppct AS BIGINT) AS VARCHAR) AS pct FROM dcp)""".stripMargin,
        """w AS (SELECT CAST(greatest(8, 2, max(length(coalesce(map_unit, '--')))) AS INT) AS wm,
          |              CAST(greatest(6, 2, max(length(coalesce(rating, '--')))) AS INT) AS wr,
          |              CAST(greatest(3, 2, max(length(coalesce(pct, '--')))) AS INT) AS wp FROM r)""".stripMargin))),

    // R2/R3 — acreage report (gSSURGO_AcreageReport.py:186-327): Σ area
    // per rating class with domain display order.
    Q("r02_acreage_report",
      (s, dir) => {
        val rating = SdvAgg.dominantComponent(compChoice(s, dir))
          .select(col("mukey"), col("rating"))
        val areas = Tables.load(s, dir, "orders")
          .select(col("o_orderkey").as("mukey"),
            Exprs.cents(col("o_totalprice")).as("area"))
        Reports.acreage(rating, areas, 0.000247105, flagDomain)
      },
      Some(withCtes(
        """SELECT coalesce(d.rating, 'Not rated') AS rating,
          |       floor((sum(a.area)*0.000247105/100)*1e2 + 0.5)/1e2 AS acres,
          |       CAST(CASE coalesce(d.rating, 'Not rated')
          |         WHEN 'A' THEN 1.0 WHEN 'N' THEN 2.0 WHEN 'R' THEN 3.0
          |         ELSE 4.0 END AS DOUBLE) AS rank
          |FROM dcp d
          |JOIN (SELECT o_orderkey AS mukey, floor(o_totalprice*100 + 0.5) AS area
          |      FROM orders) a ON d.mukey = a.mukey
          |GROUP BY coalesce(d.rating, 'Not rated')""".stripMargin,
        compCte,
        "compc AS (SELECT mukey, cokey, comppct, crating AS rating, cord AS ord FROM comp)",
        s"dcp AS (${OracleSql.dcp("compc")})"))))
}
