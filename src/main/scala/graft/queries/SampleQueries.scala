package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Materialize

import graft.{GraftSession, Tables}
import graft.io.Cdc
import graft.pipeline.{Profile, Sampling}
import graft.text.TextAnalysis

/** Corpus-engineering operators added in round 5's fifth session:
  * weighted (priority) sampling, temperature rebalancing, column
  * profiling, and snapshot CDC. All oracles splice the shared
  * [[Sampling.hash32Sql]] twin — never a re-derived formula. */
object SampleQueries extends QuerySet {

  // plain (non-interpolated) literal so '\s' survives as regex text
  private val toksCte =
    """toks AS (SELECT doc_id,
      |               string_split_regex(lower(trim(text)), '\s+') AS t
      |        FROM documents)""".stripMargin

  // NOTE: declared BEFORE `all` — an oracle string interpolating a
  // constant declared later splices the literal "null" (the round-5
  // init-order hazard).
  private val snapPairCtes =
    """o AS (SELECT c_custkey AS k,
      |             CAST(floor(c_acctbal*100 + 0.5) AS BIGINT) AS bal
      |           FROM customer),
      |n AS (SELECT k, CASE WHEN k % 7 = 0 THEN bal + 1000 ELSE bal END AS bal
      |      FROM o WHERE k % 13 <> 0
      |      UNION ALL
      |      SELECT k + 100000000, CAST(0 AS BIGINT) FROM o WHERE k % 17 = 0)""".stripMargin

  val all: Seq[Q] = Seq(

    // T28 — priority sampling (Duffield–Lund–Thorup): the k=50 docs
    // with the highest w/u priority, w = token count, u the portable
    // hash32 draw. The weighted-sample primitive of corpus curation
    // ("sample 10M docs, long docs more likely") — deterministic,
    // engine-portable, and top-k'd via TakeOrderedAndProject (per-task
    // heaps; the corpus is never globally sorted — ScaleSpec-pinned).
    // Priorities are bit-identical across engines: w·2^32 is exact in
    // a double (w < 2^20 loud-guarded) and the single division is
    // IEEE-correctly-rounded.
    Q("t28_priority_sample",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
        Sampling.prioritySample(d, "doc_id", col("n_tokens"), 50)
      },
      Some(s"""WITH $toksCte,
              |w AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens
              |      FROM toks WHERE doc_id IS NOT NULL),
              |q AS (SELECT doc_id, n_tokens,
              |        (CAST(n_tokens AS DOUBLE) * 4294967296.0)
              |          / CAST((${Sampling.hash32Sql("doc_id")}) + 1 AS DOUBLE)
              |          AS priority
              |      FROM w)
              |SELECT doc_id, n_tokens, priority FROM q
              |ORDER BY priority DESC, doc_id LIMIT 50""".stripMargin)),

    // T29 — temperature rebalancing (XLM-R/mC4 style, exponent ½):
    // per-language keep thresholds floor(sqrt(n_min/n_lang)·2^32) and
    // the deterministic hash32-draw kept counts — the multilingual
    // flattening pass of a pretraining mixture. sqrt is the one power
    // IEEE requires correctly rounded, so thresholds are bit-portable;
    // the corpus never shuffles (threshold broadcast, rollup partial).
    Q("t29_lang_rebalance",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val kept = Sampling.rebalanceSqrt(d, "doc_id", "lang")
          .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
        Sampling.rebalanceThresholds(d, "lang")
          .join(kept, Seq("lang"), "left")
          .na.fill(0L, Seq("n_kept"))
      },
      Some(s"""WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
              |m AS (SELECT min(n_docs) AS nmin FROM c),
              |t AS (SELECT lang, n_docs,
              |        CAST(floor(sqrt(CAST(nmin AS DOUBLE)/CAST(n_docs AS DOUBLE))
              |             * 4294967296) AS BIGINT) AS keep_threshold
              |      FROM c, m),
              |k AS (SELECT lang, count(*) AS n_kept
              |      FROM documents d JOIN t USING (lang)
              |      WHERE d.doc_id IS NOT NULL
              |        AND (${Sampling.hash32Sql("doc_id")}) < keep_threshold
              |      GROUP BY 1)
              |SELECT t.lang, t.n_docs, t.keep_threshold,
              |       CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept
              |FROM t LEFT JOIN k USING (lang)""".stripMargin)),

    // T30 — column profiling: the data-card stats table (rows, nulls,
    // exact distinct cardinality per column) in ONE scan — a single
    // stacked generator pass and one partial-aggregating shuffle,
    // never a per-column job. Values profile in canonical string form
    // (exact for these integer/string columns).
    Q("t30_profile",
      (s, dir) => Profile.profile(Tables.load(s, dir, "documents"),
        Seq("doc_id", "text", "lang", "source", "n_chars")),
      Some(Seq("doc_id", "text", "lang", "source", "n_chars").map(c =>
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           |  CAST(count(DISTINCT CAST($c AS VARCHAR)) AS BIGINT) AS n_distinct
           |FROM documents""".stripMargin).mkString("\nUNION ALL\n"))),

    // S09 — snapshot CDC diff (the S10 merged-DB append generalized to
    // full change capture): one full-outer join on the key classifies
    // every customer key as insert/delete/update/unchanged; the gate
    // ships the non-trivial changes. The "new" snapshot is a
    // deterministic mutation of the old one — %13 keys deleted, %7
    // balances bumped, %17 keys re-inserted under a shifted key — so
    // all three change classes are non-vacuously present and the
    // oracle rebuilds both snapshots from the same table.
    Q("s09_snapshot_cdc",
      (s, dir) => {
        val (oldSnap, newSnap) = snapshotPair(s, dir)
        Cdc.changes(oldSnap, newSnap, "c_custkey", Seq("bal_cents"))
      },
      Some(s"""WITH $snapPairCtes,
             |d AS (SELECT COALESCE(o.k, n.k) AS c_custkey,
             |        CASE WHEN o.k IS NULL THEN 'insert'
             |             WHEN n.k IS NULL THEN 'delete'
             |             WHEN o.bal IS DISTINCT FROM n.bal THEN 'update'
             |             ELSE 'unchanged' END AS op,
             |        o.bal AS old_bal_cents, n.bal AS new_bal_cents
             |      FROM o FULL JOIN n ON o.k = n.k)
             |SELECT * FROM d WHERE op <> 'unchanged'""".stripMargin)),

    // S15 — CDC APPLY (the merge side closing s09's capture loop):
    // the change set diffed from two snapshots is applied back onto
    // the old one — deletes drop, updates/inserts upsert, untouched
    // rows pass through — and the result must equal the new snapshot
    // row-for-row (the round-trip identity; see Cdc.applyChanges).
    // The oracle is simply the new snapshot's construction.
    Q("s15_cdc_apply",
      (s, dir) => {
        val (oldSnap, newSnap) = snapshotPair(s, dir)
        Cdc.applyChanges(oldSnap,
          Cdc.changes(oldSnap, newSnap, "c_custkey", Seq("bal_cents")),
          "c_custkey", Seq("bal_cents"))
      },
      Some(s"""WITH $snapPairCtes
             |SELECT k AS c_custkey, bal AS bal_cents FROM n""".stripMargin)),

    // ST09 — STREAMING CDC apply (the Delta-style streaming MERGE
    // INTO): the s15 change set lands as a file stream in two waves
    // (even keys, then odd), each micro-batch merges into the lake
    // snapshot via Cdc.applyChanges under a shared checkpoint
    // (exactly-once per landed file; disjoint-key batches commute, so
    // micro-batch splits reach the same lake). The final lake must
    // equal the batch-built new snapshot — the same round-trip oracle
    // as s15, now through the streaming machinery.
    Q("st09_stream_cdc_apply",
      (s, dir) => {
        val tmp = GraftSession.freshScratch(s, "st09", dir)
        val (oldSnap, newSnap) = snapshotPair(s, dir)
        graft.streaming.Ingest.initSnapshot(oldSnap, s"$tmp/lake")
        // checkpoint the full-outer diff once — both wave writes read
        // the materialized change set instead of re-running the join
        val ch = Materialize.checkpoint(
          Cdc.changes(oldSnap, newSnap, "c_custkey", Seq("bal_cents")), eager = true)
        ch.filter(col("c_custkey") % 2 === 0)
          .write.mode("append").parquet(s"$tmp/drop")
        graft.streaming.Ingest.streamCdcApply(s, s"$tmp/drop", ch.schema,
          s"$tmp/lake", "c_custkey", Seq("bal_cents"))
        ch.filter(col("c_custkey") % 2 =!= 0)
          .write.mode("append").parquet(s"$tmp/drop")
        graft.streaming.Ingest.streamCdcApply(s, s"$tmp/drop", ch.schema,
          s"$tmp/lake", "c_custkey", Seq("bal_cents"))
        graft.streaming.Ingest.currentSnapshot(s, s"$tmp/lake")
      },
      Some(s"""WITH $snapPairCtes
             |SELECT k AS c_custkey, bal AS bal_cents FROM n""".stripMargin)),

    // S10 — schema-evolution-tolerant lake read (Lake.readEvolved):
    // two writer VINTAGES of the events table — v1 narrow (no
    // event_type/props, value stored as FLOAT) and v2 full — are
    // written side by side, then read back through per-vintage
    // reconcile-to-canonical (typed null-fill + cast) and unioned.
    // This is the generalized fix for the round-5 events.ts dtype
    // regression: Spark's own mergeSchema only tolerates ADDED
    // columns of identical type; a physical-type drift kills the
    // scan. The oracle replays both vintages (including the
    // float-narrowing round trip) from the source table.
    Q("s10_schema_evolution",
      (s, dir) => {
        import org.apache.spark.sql.types._
        val base = landVintages(s, dir)
        val canonical = StructType(Seq(
          StructField("event_id", LongType), StructField("user_id", LongType),
          StructField("event_type", StringType), StructField("value", DoubleType),
          StructField("props", StringType)))
        graft.io.Lake.readEvolved(s, Seq(s"$base/v1", s"$base/v2"), canonical)
          .groupBy(coalesce(col("event_type"), lit("__legacy__")).as("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(graft.core.Exprs.cents(col("value"))).cast("long").as("sum_cents"))
      },
      Some("""WITH v1 AS (SELECT event_id, user_id, CAST(NULL AS VARCHAR) AS event_type,
             |              CAST(CAST(value AS FLOAT) AS DOUBLE) AS value
             |            FROM events WHERE event_id % 2 = 0),
             |v2 AS (SELECT event_id, user_id, event_type, value
             |       FROM events WHERE event_id % 2 <> 0),
             |u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
             |SELECT coalesce(event_type, '__legacy__') AS event_type,
             |       count(*) AS n,
             |       CAST(sum(floor(value*100 + 0.5)) AS BIGINT) AS sum_cents
             |FROM u GROUP BY 1""".stripMargin)),

    // S13 — small-file COMPACTION, the lake-maintenance op every
    // streaming/incremental writer needs (st04's per-batch partition
    // overwrites and CDC appends accumulate small files; at 100 TB an
    // uncompacted lake's scan cost is dominated by file-open overhead
    // and footer reads, and a 1000-executor job wastes its parallelism
    // on 4 KB splits). A deliberately fragmented 64-file landing of
    // lineitem is rewritten to ceil(rows / 25k) right-sized files
    // (row-count targeting keeps the file count engine-portable;
    // byte targeting is the production variant, same plan shape).
    // The gate checks BOTH sides of the contract: values are
    // invariant (the rollup must equal the plain-table oracle) and
    // the measured file counts — counted off input_file_name(), not
    // trusted from the writer — hit 64 → ceil(n/25k).
    Q("s13_compaction",
      (s, dir) => {
        val base = landFragmented(s, dir)
        val after = s.read.parquet(s"$base/compact")
        val fb = s.read.parquet(s"$base/frag")
          .select(input_file_name().as("f")).distinct()
          .agg(count(lit(1)).as("files_before"))
        val fa = after.select(input_file_name().as("f")).distinct()
          .agg(count(lit(1)).as("files_after"))
        after.groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(graft.core.Exprs.cents(col("l_extendedprice"))).cast("long").as("sum_cents"))
          .crossJoin(broadcast(fb)).crossJoin(broadcast(fa))
      },
      Some("""SELECT l_returnflag, count(*) AS n,
             |       CAST(sum(floor(l_extendedprice*100 + 0.5)) AS BIGINT) AS sum_cents,
             |       CAST(64 AS BIGINT) AS files_before,
             |       (SELECT CAST((count(*) + 24999) // 25000 AS BIGINT)
             |        FROM lineitem) AS files_after
             |FROM lineitem GROUP BY 1""".stripMargin)),

    // S18 — hive-partitioned layout + partition-PRUNED read: the
    // third layout primitive beside j19's bucketing and s14's
    // Z-order, and the one every 100 TB event lake leads with — a
    // day-partitioned landing means a one-week query lists 7
    // directories and reads nothing else (the filter binds at the
    // METADATA level, before any file IO; `.explain` shows it under
    // PartitionFilters, pinned in ScaleSpec on a twin layout). The
    // gate checks the values contract: a week's rollup off the
    // partitioned lake must equal the plain-table oracle — layout
    // changes the plan, never the values (j19's standing rule). The
    // partition column round-trips through directory names (written
    // as formatted strings, re-inferred as DATE on read), so the
    // query normalizes it back to the string form the oracle
    // computes — a silently mistyped partition column is exactly the
    // drift this gate would catch.
    Q("s18_partitioned_layout",
      (s, dir) => {
        val lake = s.read.parquet(landPartitioned(s, dir))
        lake.filter(col("day").between("2024-01-10", "2024-01-16"))
          .groupBy(col("day").cast("string").as("day"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(graft.core.Exprs.cents(col("value"))).cast("long").as("sum_cents"))
      },
      Some("""SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
             |       count(*) AS n,
             |       CAST(sum(floor(value*100 + 0.5)) AS BIGINT) AS sum_cents
             |FROM events
             |WHERE strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-10' AND '2024-01-16'
             |GROUP BY 1, 2""".stripMargin)),

    // S19 — ORC lake vintage, roundtrip + pushdown gated: a 100 TB
    // lake is rarely one format — ORC is the other columnar format a
    // Spark engine must read natively (it ships in Spark core; no
    // extra dependency), and a migration-era lake holds both. The
    // documents table is landed once as ORC (memoized, the s13/s18
    // landing pattern) and the gate re-aggregates FROM THE ORC COPY,
    // recomputing length(text) post-read so the rollup only matches
    // the parquet-side oracle if the text column survived the format
    // byte-exactly — a lossy roundtrip (charset, nulls, truncation)
    // fails the hash. The lang filter reaches the ORC reader as a
    // pushed predicate (same PushedFilters contract as parquet,
    // plan-pinned in ScaleSpec).
    Q("s19_orc_roundtrip",
      (s, dir) => s.read.orc(s"${landFormats(s, dir)}/orc")
        .filter(col("lang") === "en")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          sum(length(col("text"))).cast("long").as("sum_chars")),
      Some("""SELECT source, count(*) AS n,
             |       CAST(sum(length(text)) AS BIGINT) AS sum_chars
             |FROM documents WHERE lang = 'en' GROUP BY 1""".stripMargin)),

    // S20 — JSONL ingest: the de-facto interchange format of training
    // corpora (web-crawl dumps, instruction sets land as .jsonl). The
    // landed lines are read back with an EXPLICIT schema — at 100 TB
    // schema inference is a full extra pass over the corpus, so the
    // production path always declares one — and the rollup recomputes
    // length(text) post-read: newlines/quotes/backslashes in the text
    // must survive the JSON escape/unescape roundtrip for the hash to
    // match the parquet-side oracle.
    Q("s20_jsonl_ingest",
      (s, dir) => {
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(StructField("doc_id", LongType),
          StructField("lang", StringType), StructField("source", StringType),
          StructField("text", StringType)))
        s.read.schema(schema).json(s"${landFormats(s, dir)}/jsonl")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n"),
            sum(length(col("text"))).cast("long").as("sum_chars"),
            countDistinct(col("source")).as("n_sources"))
      },
      Some("""SELECT lang, count(*) AS n,
             |       CAST(sum(length(text)) AS BIGINT) AS sum_chars,
             |       count(DISTINCT source) AS n_sources
             |FROM documents GROUP BY 1""".stripMargin)),

    // S14 — Z-ORDER layout: the multi-dimensional data-skipping
    // organization (Delta OPTIMIZE ZORDER / Iceberg sort-order
    // rewrite). Both dimensions first quantize to an 8-bit lattice by
    // min/max scaling (the production binning step — a one-row
    // broadcast extent aggregate, adaptive to any key range), then
    // the Morton interleave is exact integer bit arithmetic (8
    // shift-and-mask terms per dim — fully codegen'd, no HOF). Each
    // 6-bit Morton prefix is a 2D TILE (an 8×8 lattice cell): the
    // per-tile min/max spans this query reports are precisely the
    // file-footer stats a z-sorted write gives every file, and their
    // narrowness in BOTH dimensions simultaneously is the skipping
    // contract (a single-column sort gets narrow x-spans but
    // full-range y-spans). At scale the write side is
    // repartitionByRange(z) + sortWithinPartitions(z); the gate pins
    // the engine-portable part — binning, interleave math, tile
    // spans — since real file boundaries come from sampling.
    Q("s14_zorder_layout",
      (s, dir) => {
        val l = Tables.load(s, dir, "lineitem")
          .select(col("l_partkey").as("x"), col("l_suppkey").as("y"))
        val ext = l.agg(min(col("x")).as("xmin"), max(col("x")).as("xmax"),
          min(col("y")).as("ymin"), max(col("y")).as("ymax"))
        val q = l.crossJoin(broadcast(ext))
          .withColumn("xb", expr("(x - xmin) * 256L div (xmax - xmin + 1)"))
          .withColumn("yb", expr("(y - ymin) * 256L div (ymax - ymin + 1)"))
        val zx = (0 until 8).map(i =>
          shiftleft(shiftright(col("xb"), i).bitwiseAND(1), 2 * i))
          .reduce(_ + _)
        val zy = (0 until 8).map(i =>
          shiftleft(shiftright(col("yb"), i).bitwiseAND(1), 2 * i + 1))
          .reduce(_ + _)
        q.withColumn("z", (zx + zy).cast("long"))
          .withColumn("tile", shiftright(col("z"), 6).cast("long"))
          .groupBy(col("tile"))
          .agg(count(lit(1)).as("n_rows"),
            min(col("x")).as("x_min"), max(col("x")).as("x_max"),
            min(col("y")).as("y_min"), max(col("y")).as("y_max"))
      },
      Some {
        val zx = (0 until 8).map(i => s"(((xb >> $i) & 1) << ${2 * i})")
          .mkString(" + ")
        val zy = (0 until 8).map(i => s"(((yb >> $i) & 1) << ${2 * i + 1})")
          .mkString(" + ")
        s"""WITH b AS (SELECT l_partkey AS x, l_suppkey AS y FROM lineitem),
           |ext AS (SELECT min(x) AS xmin, max(x) AS xmax,
           |               min(y) AS ymin, max(y) AS ymax FROM b),
           |q AS (SELECT x, y, (x - xmin) * 256 // (xmax - xmin + 1) AS xb,
           |             (y - ymin) * 256 // (ymax - ymin + 1) AS yb
           |      FROM b, ext),
           |z AS (SELECT x, y, CAST($zx + $zy AS BIGINT) AS z FROM q)
           |SELECT CAST(z >> 6 AS BIGINT) AS tile, count(*) AS n_rows,
           |       min(x) AS x_min, max(x) AS x_max,
           |       min(y) AS y_min, max(y) AS y_max
           |FROM z GROUP BY 1""".stripMargin
      }))

  /** s13's fragmented landing + its compaction, once per (context,
    * dir): the fragmented form is 64 round-robin files (an explicit
    * repartition count — AQE never coalesces it), the compacted form
    * is ceil(rows/25k) files. Both are pure functions of the source
    * table, so re-landing per bench rep buys nothing. */
  private def landFragmented(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    GraftSession.memo(s, "fragmented", dir) {
      val base = GraftSession.scratch(s, "cmp", dir)
      val l = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_extendedprice"))
      l.repartition(64).write.mode("overwrite").parquet(s"$base/frag")
      val frag = s.read.parquet(s"$base/frag")
      val nFiles = ((frag.count() + 24999L) / 25000L).toInt
      frag.repartition(nFiles).write.mode("overwrite").parquet(s"$base/compact")
      base
    }


  /** Hive-partitioned events landing (day=YYYY-MM-DD directories),
    * once per (context, dir) — the s13/j19 memoized-landing pattern
    * for the third layout primitive (partitioning; j19 gates
    * bucketing, s14 Z-order). Day count is calendar-bounded (~30), so
    * each partition dir gets one right-sized file via a pre-shuffle
    * on the partition key. */
  private def landPartitioned(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    GraftSession.memo(s, "partitioned", dir) {
      val base = GraftSession.scratch(s, "part", dir)
      graft.Tables.events(s, dir)
        .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
          col("event_type"), col("value"))
        .repartition(col("day"))
        .write.mode("overwrite").partitionBy("day").parquet(base)
      base
    }

  /** s19/s20's cross-format landings (ORC + JSONL copies of
    * documents), once per (context, dir) — the s13 memoized-landing
    * pattern. */
  private def landFormats(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    GraftSession.memo(s, "formats", dir) {
      val base = GraftSession.scratch(s, "fmt", dir)
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("text"))
      d.write.mode("overwrite").orc(s"$base/orc")
      d.write.mode("overwrite").json(s"$base/jsonl")
      base
    }

  /** The s09/s15/st09 snapshot pair — ONE definition of the CDC
    * change-set recipe (%13 deletes, %7 balance bumps, %17 shifted-key
    * re-inserts) consumed by all three gates, with [[snapPairCtes]] as
    * its SQL twin; a drift between copies would silently break the
    * round-trip identities the apply gates pin. */
  private def snapshotPair(s: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val oldSnap = Tables.load(s, dir, "customer").select(
      col("c_custkey"),
      graft.core.Exprs.cents(col("c_acctbal")).cast("long").as("bal_cents"))
    val newSnap = oldSnap.filter(col("c_custkey") % 13 =!= 0)
      .select(col("c_custkey"),
        when(col("c_custkey") % 7 === 0, col("bal_cents") + 1000L)
          .otherwise(col("bal_cents")).as("bal_cents"))
      .unionByName(oldSnap.filter(col("c_custkey") % 17 === 0)
        .select((col("c_custkey") + 100000000L).as("c_custkey"),
          lit(0L).as("bal_cents")))
    (oldSnap, newSnap)
  }

  /** s10's two writer vintages, landed once per (context, dir) at a
    * fixed per-dir path: a fresh createTempDirectory per invocation
    * leaked a new events copy every bench rep; the vintages are a pure
    * deterministic function of the source table, so re-landing buys
    * nothing and the overwrite keeps the path single-copy. */
  private def landVintages(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    GraftSession.memo(s, "vintages", dir) {
      val base = GraftSession.scratch(s, "evo", dir)
      val e = Tables.events(s, dir)
      e.filter(col("event_id") % 2 === 0)
        .select(col("event_id"), col("user_id"),
          col("value").cast("float").as("value"))
        .write.mode("overwrite").parquet(s"$base/v1")
      e.filter(col("event_id") % 2 =!= 0)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("props"))
        .write.mode("overwrite").parquet(s"$base/v2")
      base
    }

  /** st09's per-batch transform (the streaming MERGE body —
    * Cdc.applyChanges of the full change set into the old snapshot) on
    * static frames — CodegenGateSpec probe target
    * (QuerySet.stBatchPlans). */
  override def stBatchPlans
      : Map[String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame] =
    Map("st09_stream_cdc_apply" -> ((s, dir) => {
      val (oldSnap, newSnap) = snapshotPair(s, dir)
      graft.io.Cdc.applyChanges(oldSnap,
        Cdc.changes(oldSnap, newSnap, "c_custkey", Seq("bal_cents")),
        "c_custkey", Seq("bal_cents"))
    }))
}
