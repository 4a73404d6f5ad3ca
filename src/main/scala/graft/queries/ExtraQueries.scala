package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Materialize

import graft.{GraftSession, Tables}
import graft.analog.Analog._
import graft.core.Exprs
import graft.sdv.SdvAgg
import graft.streaming.Ingest
import graft.valu.{Valu, ValuTable}

/** Remaining inventory coverage: deep join variants (J7/J9), texture
  * inner join + RV filter (J10/F7), the legend outputValues pass (part
  * of A1-A23), and the full Valu1 wide assembly (V14). */
object ExtraQueries extends QuerySet {

  private val socSlices = graft.valu.Valu.valu1Slices
  // rule key derived from depth, NOT from the major-flag column, so all
  // three NCCPI columns carry real (non-vacuous) coverage
  private val nccpiRules = Seq("corn" -> "nccpi_corn", "soy" -> "nccpi_soy",
    "cotton" -> "nccpi_cotton")

  val all: Seq[Q] = Seq(

    // T6 — BPE-ish subword pre-tokenization count (training-data
    // mandate: "token counting (whitespace + a BPE-ish regex)").
    Q("t06_bpe_token_count",
      (s, dir) => Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          graft.text.TextAnalysis.tokenCountBpe(col("text")).cast("long").as("n_bpe")),
      Some("""SELECT doc_id,
             |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_bpe
             |FROM documents""".stripMargin)),

    // §5.1 count-reconciliation statistics (SSURGO_CheckgSSURGO
    // GetSDMCount/GetGDBCount shape): exact distinct counts + median
    // per group — the per-table tallies the reference validates against
    // SDA, plus the summary stats a training pipeline reports. The
    // median is exact but computed from per-(group, value) counts
    // (graft.core.Stats.groupedMedian) — no per-group row sort, so the
    // plan survives fact-table scale.
    Q("q2_group_stats",
      (s, dir) => {
        val l = Tables.load(s, dir, "lineitem")
        l.groupBy(col("l_returnflag"))
          .agg(countDistinct(col("l_orderkey")).as("n_orders"),
            count(lit(1)).as("n_rows"),
            min(col("l_quantity")).as("min_qty"),
            max(col("l_quantity")).as("max_qty"))
          // left join: a group whose values are all NULL still reports
          // its counts with a null median, matching median() semantics
          .join(graft.core.Stats.groupedMedian(l, "l_returnflag", "l_quantity", "med_qty"),
            Seq("l_returnflag"), "left")
          .select(col("l_returnflag"), col("n_orders"), col("n_rows"),
            col("med_qty"), col("min_qty"), col("max_qty"))
      },
      Some("""SELECT l_returnflag,
             |       count(DISTINCT l_orderkey) AS n_orders,
             |       count(*) AS n_rows,
             |       median(l_quantity) AS med_qty,
             |       min(l_quantity) AS min_qty,
             |       max(l_quantity) AS max_qty
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // Tail quantiles for the same report: exact nearest-rank p90/p99
    // from per-(group, value) counts (Stats.groupedQuantile) — integer
    // rank arithmetic, no per-group row sort, no interpolation floats;
    // the oracle mirrors the same formula rather than relying on an
    // engine quantile definition.
    Q("q3_group_quantile",
      (s, dir) => graft.core.Stats.groupedQuantiles(
        Tables.load(s, dir, "lineitem"), "l_returnflag", "l_quantity",
        Seq(90 -> "p90_qty", 99 -> "p99_qty")),
      Some("""WITH c AS (SELECT l_returnflag, l_quantity, count(*) AS c
             |           FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1, 2),
             |x AS (SELECT l_returnflag, l_quantity,
             |        sum(c) OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS cum,
             |        sum(c) OVER (PARTITION BY l_returnflag) AS n
             |      FROM c)
             |SELECT l_returnflag,
             |  min(CASE WHEN cum >= (n*90 + 99) // 100 THEN l_quantity END) AS p90_qty,
             |  min(CASE WHEN cum >= (n*99 + 99) // 100 THEN l_quantity END) AS p99_qty
             |FROM x GROUP BY 1""".stripMargin)),

    // Q4 — exact per-group mode with a deterministic tiebreak (count
    // desc, value asc): the distinct-pair-counts shape of q2/q3 with a
    // min_by argmax instead of a per-group sort. Spark's own mode()
    // resolves ties by partition luck; this one is engine-portable.
    Q("q4_group_mode",
      (s, dir) => graft.core.Stats.groupedMode(
        Tables.load(s, dir, "lineitem"), "l_returnflag", "l_quantity",
        out = "mode_qty"),
      Some("""WITH c AS (SELECT l_returnflag, l_quantity AS v, count(*) AS c
             |           FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1, 2),
             |r AS (SELECT *, row_number() OVER (PARTITION BY l_returnflag
             |                ORDER BY c DESC, v ASC) AS rn FROM c)
             |SELECT l_returnflag, v AS mode_qty, c AS mode_qty_n
             |FROM r WHERE rn = 1""".stripMargin)),

    // Q5 — CUBE grouping sets with grouping ids: the acreage report's
    // per-class + total rollup (r05) generalized to the full lattice —
    // every (status × priority) subtotal combination in ONE
    // aggregation pass, each row tagged by which dimensions are
    // aggregated away (grouping() per column: engine-portable, unlike
    // the engines' differing grouping_id bit orders).
    Q("q5_grouping_cube",
      (s, dir) => Tables.load(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(Exprs.cents(col("o_totalprice"))).cast("long").as("sum_cents"),
          grouping(col("o_orderstatus")).cast("long").as("g_status"),
          grouping(col("o_orderpriority")).cast("long").as("g_prio")),
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             |       CAST(sum(floor(o_totalprice*100 + 0.5)) AS BIGINT) AS sum_cents,
             |       CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
             |       CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio
             |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin)),

    // Q6 — HLL distinct-count sketch with its accuracy contract GATED:
    // at 100 TB an exact count(distinct) shuffles every raw key;
    // approx_count_distinct is a fixed-size mergeable sketch (map-side
    // partial, no raw-value shuffle) and is what a production pipeline
    // runs. Sketches can't be value-replayed cross-engine, so the gate
    // checks the CONTRACT instead: the engine emits the exact count
    // (small-side truth) plus a boolean that the HLL estimate landed
    // within 3×rsd (rsd 0.05 → 15%), and the oracle expects TRUE.
    // Spark's HLL++ is deterministic for fixed data, so the boolean
    // cannot flake; an implementation drifting past its error bound
    // fails the driver gate. Both aggregates run in the same pass.
    Q("q6_sketch_distinct",
      (s, dir) => Tables.events(s, dir).filter(col("user_id").isNotNull)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"),
          approx_count_distinct(col("user_id"), 0.05).as("est"))
        .select(col("event_type"), col("n_exact"),
          (abs(col("est") - col("n_exact")).cast("double") <=
            col("n_exact").cast("double") * 0.15).as("within_rel_err")),
      Some("""SELECT event_type, count(DISTINCT user_id) AS n_exact,
             |       TRUE AS within_rel_err
             |FROM events WHERE user_id IS NOT NULL
             |GROUP BY event_type""".stripMargin)),

    // Q8 — sketch MERGEABILITY gated: the property that makes q6's
    // sketch work on 1000 executors is that per-shard partials union
    // into the global answer — count(distinct) can't do that without
    // re-shuffling raw keys. An 8-way deterministic shard split
    // stands in for executor partials: per-shard DataSketches HLL
    // sketches (hll_sketch_agg) are union-merged (hll_union_agg) and
    // the merged estimate must land within 15% of the exact count,
    // same as the direct single-pass sketch — both booleans gated
    // TRUE beside the exact count. The 15% bound is deliberately
    // GENEROUS relative to the sketch's own precision (default
    // lgConfigK=12 → rsd ≈ 1.04/√4096 ≈ 1.6%, so 15% ≈ 9×rsd —
    // looser than q6's 3×rsd because q6 configures its rsd
    // explicitly): this gate exists to catch mergeability BREAKAGE
    // (a union that loses registers errs by integer factors), not to
    // pin the tight error. (The two estimates are NOT asserted
    // identical: HLL union runs in HLL_8 register space while a
    // direct sketch may stay HLL_4/sparse, so bit-equality is not
    // part of the mergeability contract — the error bound is.) The
    // final join is null-safe so a NULL event_type group, should the
    // lake ever carry one, flows through like q6's rather than being
    // dropped by null-rejecting join equality.
    Q("q8_sketch_merge",
      (s, dir) => {
        val e = Tables.events(s, dir).filter(col("user_id").isNotNull)
        val shards = e.withColumn("shard", pmod(col("user_id"), lit(8)))
          .groupBy(col("event_type"), col("shard"))
          .agg(expr("hll_sketch_agg(user_id)").as("sk"))
        val merged = shards.groupBy(col("event_type"))
          .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_m"))
        val direct = e.groupBy(col("event_type"))
          .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id))").as("est_d"),
            countDistinct(col("user_id")).as("n_exact"))
        direct.as("d").join(merged.as("m"),
            col("d.event_type") <=> col("m.event_type"))
          .select(col("d.event_type").as("event_type"), col("n_exact"),
            (abs(col("est_d") - col("n_exact")).cast("double") <=
              col("n_exact").cast("double") * 0.15).as("direct_ok"),
            (abs(col("est_m") - col("n_exact")).cast("double") <=
              col("n_exact").cast("double") * 0.15).as("merged_ok"))
      },
      Some("""SELECT event_type, count(DISTINCT user_id) AS n_exact,
             |       TRUE AS direct_ok, TRUE AS merged_ok
             |FROM events WHERE user_id IS NOT NULL
             |GROUP BY event_type""".stripMargin)),

    // Q9 — Count-Min heavy hitters, accuracy AND mergeability gated:
    // the third leg of the sketch family (q6 cardinality, q7 quantile,
    // q9 frequency). At 100 TB "who are the hot keys" cannot afford a
    // full groupBy-count of every key; a Count-Min sketch is a
    // fixed-size additive counter array built in one distributed
    // aggregate. The cross-engine contract (sketches can't be
    // value-replayed) follows q6/q8: exact top-20 counts beside two
    // gated booleans — the one-sided error bound and shard-merge
    // EQUALITY (see Sketches.cmsHeavyHitters for why CMS merge is
    // exact, not bounded). Deterministic: fixed data + fixed seed ⇒
    // fixed counters ⇒ the booleans cannot flake.
    //
    // FIXTURE DEPENDENCE of the within_bound=TRUE pin: the upper bound
    // est ≤ exact + ⌈eps·N⌉ is a 0.99-CONFIDENCE guarantee per key,
    // not a certainty — on the gated fixtures it holds for every top-20
    // key (deterministically, fixed seed), but a NEW fixture or SF can
    // deterministically land a key in the unlucky 1% even when both
    // sketch and engine are correct. If a future SF addition fails only
    // here, diagnose fixture luck (re-seed or widen eps) before
    // suspecting the engine; merge_exact carries no such caveat (CMS
    // merge is exact additivity, confidence-free).
    Q("q9_sketch_heavy_hitters",
      (s, dir) => graft.core.Sketches.cmsHeavyHitters(
        Tables.events(s, dir), "user_id", topK = 20),
      Some("""WITH c AS (SELECT user_id, count(*) AS n_exact FROM events
             |           WHERE user_id IS NOT NULL GROUP BY 1),
             |r AS (SELECT *, row_number() OVER
             |        (ORDER BY n_exact DESC, user_id ASC) AS rn FROM c)
             |SELECT user_id, n_exact, TRUE AS within_bound,
             |       TRUE AS merge_exact
             |FROM r WHERE rn <= 20""".stripMargin)),

    // Q11 — KMV set-operation sketches: the audience-overlap question
    // ("how many users did BOTH X and Y") that completes the sketch
    // family — q6/q8 HLL unions but cannot intersect; a KMV bottom-k
    // sketch supports union AND intersection estimates from k-sized
    // mergeable state (see Sketches.kmvSetOps for the estimator, its
    // error bounds, the membership-soundness argument, and the
    // EXACT shard-merge property gated as merge_exact). Contract
    // follows q6/q9: exact union/intersection per event-type pair
    // (replayable truth) beside three gated booleans the oracle pins
    // TRUE. Same q9-style fixture dependence on the two bounds —
    // deterministic per fixture (xxhash64 is seedless), but a new
    // fixture failing only here is fixture luck, not an engine bug.
    Q("q11_sketch_set_ops",
      (s, dir) => {
        // element = (user, day) composite — "audience that did X and Y
        // the SAME day": user-only sets fully overlap on this fixture
        // (every user touches every type), while user-days overlap
        // partially at every SF AND outgrow k=1024 from sf0.1 up, so
        // the estimators are genuinely exercised, not just the
        // small-set exact path
        val e = Tables.events(s, dir).filter(col("user_id").isNotNull)
          .select(col("event_type"),
            // floor (not truncate) day index — matches the oracle's
            // BIGINT `//` for negative epochs (the e16 convention)
            (col("user_id") * 1000000L +
              floor(unix_millis(col("ts")) / 86400000d)
                .cast("long")).as("ud"))
        graft.core.Sketches.kmvSetOps(e, "event_type", "ud", k = 1024)
      },
      Some("""WITH d AS (SELECT DISTINCT event_type AS g,
             |             user_id*1000000 +
             |             CAST(epoch_ms(ts) AS BIGINT)//86400000 AS e
             |           FROM events WHERE user_id IS NOT NULL),
             |n AS (SELECT g, count(*) AS n FROM d GROUP BY 1),
             |i AS (SELECT a.g AS type_a, b.g AS type_b,
             |             count(*) AS n_inter_exact
             |      FROM d a JOIN d b ON a.e = b.e AND a.g < b.g
             |      GROUP BY 1, 2)
             |SELECT type_a, type_b,
             |       na.n + nb.n - n_inter_exact AS n_union_exact,
             |       n_inter_exact,
             |       TRUE AS union_ok, TRUE AS inter_ok, TRUE AS merge_exact
             |FROM i JOIN n na ON na.g = type_a
             |       JOIN n nb ON nb.g = type_b""".stripMargin)),

    // Q7 — quantile sketch with its DETERMINISTIC rank-error contract
    // gated: approx_percentile (Greenwald-Khanna style, rank error ≤
    // n/accuracy by construction — not probabilistic) is the tail-
    // latency/price-distribution primitive at corpus scale; exact
    // quantiles need per-group value-count tables (q3) or a sort. The
    // engine emits the EXACT nearest-rank p50 (q3's integer-rank
    // formula — value-replayable) plus a boolean that the sketch
    // value's occupied rank interval [r_lo+1, r_hi] intersects the
    // target rank n/2 within a 0.1%·n + 1 slack (10× the nominal
    // n/10000 bound — robust to target-rank definition, still a real
    // contract); the oracle expects TRUE. Shape: one agg for the
    // sketch, one broadcast join-back to rank the returned value, one
    // 5-row join to the exact-quantile table.
    Q("q7_sketch_quantile",
      (s, dir) => {
        val e = Tables.events(s, dir).filter(col("value").isNotNull)
          .select(col("event_type"), col("value"))
        val ap = e.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            expr("approx_percentile(value, 0.5, 10000)").as("av"))
        val ranked = e.join(broadcast(ap), Seq("event_type"))
          .groupBy(col("event_type"))
          .agg(first(col("n")).as("n"),
            sum(when(col("value") < col("av"), 1L).otherwise(0L)).as("r_lo"),
            sum(when(col("value") <= col("av"), 1L).otherwise(0L)).as("r_hi"))
        val slack = col("n").cast("double") / 1000.0 + 1.0
        ranked
          .join(graft.core.Stats.groupedQuantiles(e, "event_type", "value",
            Seq(50 -> "p50_value")), Seq("event_type"))
          .select(col("event_type"), col("n"), col("p50_value"),
            ((col("r_lo").cast("double") + 1.0 <=
              col("n").cast("double") / 2.0 + slack) &&
             (col("n").cast("double") / 2.0 - slack <=
              col("r_hi").cast("double"))).as("rank_ok"))
      },
      Some("""WITH c AS (SELECT event_type, value, count(*) AS c
             |           FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
             |x AS (SELECT event_type, value,
             |        sum(c) OVER (PARTITION BY event_type ORDER BY value) AS cum,
             |        sum(c) OVER (PARTITION BY event_type) AS n
             |      FROM c)
             |SELECT event_type, CAST(max(n) AS BIGINT) AS n,
             |  min(CASE WHEN cum >= (n*50 + 99) // 100 THEN value END) AS p50_value,
             |  TRUE AS rank_ok
             |FROM x GROUP BY 1""".stripMargin)),

    // E12 — user-journey transition matrix: per-user time-ordered
    // (prev event_type → event_type) transition counts and
    // probabilities — the Markov-chain view of the event stream that
    // feeds funnel design (which step usually follows which). Ordering
    // ties break on event_id, so the lag is fully deterministic; the
    // per-prev normalization runs over the 5×5 transition table, never
    // the events.
    Q("e12_transition_matrix",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val e = Tables.events(s, dir).filter(col("user_id").isNotNull)
          .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
            col("event_id"), col("event_type"))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us").asc, col("event_id").asc)
        val trans = e.withColumn("prev_type", lag(col("event_type"), 1).over(w))
          .filter(col("prev_type").isNotNull)
          .groupBy(col("prev_type"), col("event_type")).agg(count(lit(1)).as("n"))
        val wp = Window.partitionBy(col("prev_type"))
        trans.withColumn("p",
          Exprs.roundHalfUp(col("n") / sum(col("n")).over(wp), 4))
      },
      Some("""WITH e AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
             |                  event_id, event_type
             |           FROM events WHERE user_id IS NOT NULL),
             |t AS (SELECT lag(event_type) OVER (PARTITION BY user_id
             |              ORDER BY ts_us, event_id) AS prev_type, event_type
             |      FROM e),
             |c AS (SELECT prev_type, event_type, count(*) AS n FROM t
             |      WHERE prev_type IS NOT NULL GROUP BY 1, 2)
             |SELECT prev_type, event_type, n,
             |       floor((CAST(n AS DOUBLE)
             |         / sum(n) OVER (PARTITION BY prev_type))*1e4 + 0.5)/1e4 AS p
             |FROM c""".stripMargin)),

    // E13 — DAU / trailing-7-day WAU: the standard active-user report.
    // Everything runs on the (day, user) DEDUPED activity table (one
    // row per active user-day — the e06 pre-dedup rule), so the WAU
    // range join fans the 30-row day dimension (broadcast) against
    // user-days, never raw events; per-day distinct users then
    // aggregate a bounded ≤7× blowup of the deduped table.
    Q("e13_active_users",
      (s, dir) => {
        val d = Tables.events(s, dir).filter(col("user_id").isNotNull)
          .select(floor(unix_millis(col("ts")) / 86400000d)
            .cast("long").as("day"), col("user_id"))
          .distinct()
        val days = d.select(col("day")).distinct()
        val dau = d.groupBy(col("day")).agg(count(lit(1)).as("dau"))
        val wau = broadcast(days.select(col("day").as("d0")))
          .join(d, col("day").between(col("d0") - 6, col("d0")))
          .groupBy(col("d0").as("day"))
          .agg(countDistinct(col("user_id")).as("wau"))
        dau.join(wau, Seq("day"))
      },
      Some("""WITH d AS (SELECT DISTINCT CAST(epoch_ms(ts) AS BIGINT)//86400000 AS day, user_id
             |           FROM events WHERE user_id IS NOT NULL),
             |days AS (SELECT DISTINCT day FROM d),
             |a AS (SELECT day, count(*) AS dau FROM d GROUP BY 1),
             |w AS (SELECT days.day, count(DISTINCT d.user_id) AS wau
             |      FROM days JOIN d ON d.day BETWEEN days.day - 6 AND days.day
             |      GROUP BY 1)
             |SELECT day, dau, wau FROM a JOIN w USING (day)""".stripMargin)),

    // J7/J9 — four-level null-padded join chain (CreateRatingTable4S
    // :4560-4630 / CreateSoilMoistureTable :4632-4718): mapunit ⟕
    // component ⟕ month-carrier ⟕ leaf table.
    Q("j09_four_level_join",
      (s, dir) => {
        val c = Tables.load(s, dir, "customer")
        val o = Tables.load(s, dir, "orders")
        val l = Tables.load(s, dir, "lineitem")
        val p = Tables.load(s, dir, "part")
        c.join(o, c("c_custkey") === o("o_custkey"), "left")
          .join(l, o("o_orderkey") === l("l_orderkey"), "left")
          .join(p, l("l_partkey") === p("p_partkey"), "left")
          .select(col("c_custkey").as("mukey"), col("o_orderkey").as("cokey"),
            month(col("l_shipdate")).cast("double").as("monthno"),
            Exprs.cents(col("p_retailprice")).as("rating"))
      },
      Some("""SELECT c_custkey AS mukey, o_orderkey AS cokey,
             |       CAST(month(l_shipdate) AS DOUBLE) AS monthno,
             |       floor(p_retailprice*100 + 0.5) AS rating
             |FROM customer
             |LEFT JOIN orders ON o_custkey = c_custkey
             |LEFT JOIN lineitem ON l_orderkey = o_orderkey
             |LEFT JOIN part ON p_partkey = l_partkey""".stripMargin)),

    // J10 + F7 — texture inner join with the representative-value filter
    // (MakeQueryTable + rvindicator='Yes', gSSURGO_ValuTable.py:221-232).
    Q("j10_texture_inner_join",
      (s, dir) => {
        val l = Tables.load(s, dir, "lineitem")
        val p = Tables.load(s, dir, "part")
        l.join(p, l("l_partkey") === p("p_partkey"))
          .filter(col("p_size") >= 25)
          .select(col("l_orderkey"), col("l_linenumber"), col("p_name"), col("p_size"))
      },
      Some("""SELECT l_orderkey, l_linenumber, p_name, p_size
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |WHERE p_size >= 25""".stripMargin)),

    // Skew-salted join through the gate (SURVEY §4 "salting for skew"):
    // the fact side's synthetic hot keys (1% key space) spread across 8
    // salts derived from a high-cardinality column, dim side replicated
    // per salt — identical semantics to the plain equi-join, which is
    // exactly what the oracle computes. Plan-shape (spread preserved,
    // no hot reducer) is pinned in ScaleSpec.
    Q("j17_salted_skew_join",
      (s, dir) => {
        val fact = Tables.load(s, dir, "lineitem").select(
          (col("l_orderkey") % 100).as("hot_key"),
          col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        val dim = Tables.load(s, dir, "nation").select(
          (col("n_nationkey") * 4).as("hot_key"), col("n_name"))
        graft.core.Salt.saltedJoin(fact, dim, "hot_key", 8,
          col("l_orderkey") * 10 + col("l_linenumber"))
          .select(col("hot_key"), col("l_orderkey"), col("l_linenumber"), col("n_name"))
      },
      Some("""SELECT l_orderkey % 100 AS hot_key, l_orderkey, l_linenumber, n_name
             |FROM lineitem JOIN nation ON l_orderkey % 100 = n_nationkey * 4""".stripMargin)),

    // J22 — range-STAB join (keyless interval lookup — IP→geo blocks,
    // price tiers): each probe finds every containing range via
    // fixed-width bucket candidates + exact containment (see
    // core.RangeStab — the LSH blocked-candidates shape on 1-D space;
    // a probe lives in ONE bucket so no pair dedup). Ranges overlap
    // deliberately (spacing 50, lengths 10-99 → some probes hit 2
    // ranges, some hit 0); the oracle is the direct inequality join.
    Q("j22_range_stab",
      (s, dir) => {
        val ranges = Tables.load(s, dir, "part").select(
          col("p_partkey").as("range_id"),
          (col("p_partkey") * 50).as("rstart"),
          (col("p_partkey") * 50 + col("p_partkey") % 90 + 10).as("rend"))
        val probes = Tables.load(s, dir, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"),
          ((col("l_orderkey") * 37 + col("l_linenumber") * 997) % 10000).as("v"))
        graft.core.RangeStab.stab(ranges, probes, "rstart", "rend", "v",
          bucket = 64L)
          .select(col("l_orderkey"), col("l_linenumber"), col("v"),
            col("range_id"), col("rstart"), col("rend"))
      },
      Some("""WITH r AS (SELECT p_partkey AS range_id, p_partkey * 50 AS rstart,
             |             p_partkey * 50 + p_partkey % 90 + 10 AS rend
             |           FROM part),
             |p AS (SELECT l_orderkey, l_linenumber,
             |        (l_orderkey * 37 + l_linenumber * 997) % 10000 AS v
             |      FROM lineitem)
             |SELECT l_orderkey, l_linenumber, v, range_id, rstart, rend
             |FROM p JOIN r ON v >= rstart AND v < rend""".stripMargin)),

    // J18 — bloom-prefiltered semijoin (the runtime-filter pattern for
    // large⨝large joins): the build side's keys become a broadcast
    // 2^20-bit bitmap that prunes probe rows BEFORE the exact semijoin
    // shuffle — at 100 TB only bit-passing lineitem rows enter the
    // exchange. False positives die in the exact join, false negatives
    // are impossible, so the result IS the plain semijoin (the
    // oracle). Bitmap hash is the engine-portable Sampling.hash32;
    // ScaleSpec pins the broadcast bitmap join + prefilter pass-rate.
    Q("j18_bloom_semijoin",
      (s, dir) => {
        val probe = Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
            col("l_quantity"))
        val build = Tables.load(s, dir, "part")
          .filter(col("p_size") >= 48).select(col("p_partkey"))
        graft.core.BitmapFilter.bloomSemiJoin(
          probe, "l_partkey", build, "p_partkey")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
             |FROM lineitem
             |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size >= 48)""".stripMargin)),

    // J19 — the bucketed co-located join as a DRIVER-GATED query (the
    // ScaleSpec "zero exchanges" pin, now with a values oracle): both
    // sides land as 8-bucket external tables on the join key, the join
    // runs shuffle-free off the bucket layout (broadcast disabled at
    // scale — neither side of a 100 TB join broadcasts), and the
    // result must equal the plain parquet join. Bucketing changes the
    // PLAN, never the values — the gate proves the layout round-trip
    // loses nothing.
    Q("j19_bucketed_join",
      (s, dir) => {
        val (o, l) = landBuckets(s, dir)
        s.table(o).join(s.table(l), col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_items"),
            sum(Exprs.cents(col("l_extendedprice"))).cast("long").as("sum_cents"))
      },
      Some("""SELECT o_orderpriority, count(*) AS n_items,
             |       CAST(sum(floor(l_extendedprice*100 + 0.5)) AS BIGINT) AS sum_cents
             |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             |GROUP BY 1""".stripMargin)),

    // A-family legend side-output: the global [min,max] every aggregate
    // collects for the map legend (outputValues,
    // gSSURGO_CreateSoilMap.py:4766-4776).
    Q("a00_legend_range",
      (s, dir) => SdvAgg.legendRange(compNumeric(s, dir)),
      Some(withCtes(
        "SELECT min(rating) AS rating_min, max(rating) AS rating_max FROM comp",
        compCte))),

    // N3 — labeled-embedding quality: per-label centroid cohesion
    // (mean member→centroid cosine) — the training-data sanity check
    // for labeled embedding sets. Centroids via dimension-exploded
    // averaging (graft.ann.Vectors.centroids).
    Q("n03_label_cohesion",
      (s, dir) => {
        import graft.ann.Vectors
        val e = Tables.load(s, dir, "embeddings")
        val cent = Vectors.centroids(e, "label", "embedding")
        // left join: a label whose vectors are all empty has no centroid
        // (posexplode yields no rows) but must still report a row
        // each member cosine is quantized to an integer at 1e-6 before
        // averaging: integer-valued doubles sum exactly in any order
        // (partition-independent) and the final floor-form rounding is
        // engine-stable — avg over raw doubles is order-dependent in
        // the last ulp and round() disagrees cross-engine at decimal
        // .5 boundaries
        e.join(cent, Seq("label"), "left")
          .select(col("label"),
            floor(Vectors.cosine(col("embedding"), col("centroid")) * 1e6 + 0.5).as("cos_e6"))
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n"),
            (floor(avg(col("cos_e6")) / 100.0 + 0.5) / 1e4).as("cohesion"))
      },
      Some("""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
             |           FROM embeddings),
             |ex AS (SELECT label, unnest(generate_series(1, len(v))) AS dim,
             |              unnest(v) AS val
             |       FROM e),
             |cent AS (SELECT label, dim, avg(val) AS mv FROM ex GROUP BY 1, 2),
             |centv AS (SELECT label, list(mv ORDER BY dim) AS c FROM cent GROUP BY label),
             |m AS (SELECT e.label,
             |        floor((list_dot_product(e.v, c)
             |          / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c, c))))*1e6 + 0.5) AS cos_e6
             |      FROM e LEFT JOIN centv USING (label))
             |SELECT label, count(*) AS n, floor(avg(cos_e6)/100.0 + 0.5)/1e4 AS cohesion
             |FROM m GROUP BY label""".stripMargin)),

    // V14 — CreateValuTable: the full Valu1 wide assembly
    // (gSSURGO_ValuTable.py:2992-3271) — sumpct + 11-slice AWS + RZAWS +
    // SOC + NCCPI + PWSL left-joined wide on the mapunit universe.
    // The horizon analog (orders⋈lineitem) feeds THREE consumers in
    // buildValu (the fused window/agg pass, the component rollup, the
    // interp slice); unmaterialized, Catalyst evaluates the join once
    // per consumer — 3× the fact-table shuffle, and exactly the
    // battery's highest task:wall ratio (27 task-s for a 3 s wall at
    // sf0.1), which is what a contended scheduler serializes into the
    // r11–r13 20-26 s run-2/3 tail. Landing the join once
    // (localCheckpoint) is the reference's own materialized
    // QueryTable_HZ design (gSSURGO_ValuTable.py:3083); st04
    // deliberately does NOT checkpoint — its per-area slices push the
    // filter below the join, which materialization would forfeit
    // (measured net-negative there, r9).
    Q("v14_valu_wide",
      (s, dir) => buildValu(
        Tables.load(s, dir, "customer").select(col("c_custkey").as("mukey")),
        Materialize.checkpoint(valuHz(s, dir), eager = false)),
      Some(valuWideOracle)),

    // V14-incremental (SURVEY §1.5): per-SSA Valu1 refresh. Change
    // signals land in two waves (three surveys, then the fourth plus a
    // re-landed one); each micro-batch re-derives only the touched
    // areas' Valu1 rows and partition-overwrites them into the lake.
    // The final lake must equal the batch build — same oracle as v14.
    Q("st04_valu_incremental",
      (s, dir) => {
        import org.apache.spark.sql.DataFrame
        val tmp = GraftSession.freshScratch(s, "st04", dir)
        val base = Tables.load(s, dir, "customer").select(col("c_custkey").as("mukey"))
        def areaOf = concat(lit("SSA"), (col("mukey") % 4).cast("string"))
        val signal = base.select(col("mukey"), areaOf.as("areasymbol"))
        // Cost floor, measured (r9): persisting the valuHz
        // orders⋈lineitem analog across the two waves was tried and is
        // NET-NEGATIVE standalone at sf0.1 (steady 9.1 s without the
        // cache vs 10.1 s with — materializing the full join into the
        // block store costs more than the waves' filtered re-derivation
        // saves, because each wave reads only its area slices with the
        // join pushed below the filter). What remains is streaming
        // lifecycle + checkpoint IO (two AvailableNow query
        // start/stop cycles + the per-batch file-log commits) plus two
        // genuine slice builds — fixed costs a long-running stream
        // amortizes at real scale; correct design, not recoverable
        // locally without contorting the checkpoint story.
        val buildFor: Seq[String] => DataFrame = areas =>
          buildValu(base.filter(areaOf.isin(areas: _*)),
            valuHz(s, dir).filter(areaOf.isin(areas: _*)))
            .withColumn("areasymbol", areaOf)
            // mapunit-level output is tiny relative to its inputs; one
            // file per touched partition instead of one per shuffle task
            .coalesce(1)
        // incremental refreshes build per-area SLICES (≤ a quarter of
        // the horizon table each)
        Materialize.sized(s, Tables.rowCount(s, dir, "lineitem")) {
          signal.filter(col("areasymbol").isin("SSA0", "SSA1", "SSA2"))
            .write.mode("append").parquet(s"$tmp/drop")
          Ingest.refreshValu(s, s"$tmp/drop", signal.schema, s"$tmp/lake", buildFor)
          signal.filter(col("areasymbol").isin("SSA1", "SSA3"))
            .write.mode("append").parquet(s"$tmp/drop")
          Ingest.refreshValu(s, s"$tmp/drop", signal.schema, s"$tmp/lake", buildFor)
        }
        graft.io.Lake.read(s, s"$tmp/lake", "valu1").drop("areasymbol")
      },
      Some(valuWideOracle)))

  /** j19's bucketed-table landing, once per (context, dir): a 3-rep
    * bench (plus warmup) otherwise re-writes both tables every
    * invocation — write time polluting the join measurement — and two
    * concurrent invocations would race on DROP/CREATE of the shared
    * catalog names. The landed layout is immutable for a given dir, so
    * the memoized names stay valid for the context's lifetime; the
    * fixed per-dir path overwrites rather than accumulating. Table
    * names carry the dir only: the catalog belongs to the context. */
  private def landBuckets(s: org.apache.spark.sql.SparkSession,
      dir: String): (String, String) =
    GraftSession.memo(s, "buckets", dir) {
      val base = GraftSession.scratch(s, "bkt", dir)
      def land(df: org.apache.spark.sql.DataFrame, name: String, key: String): String = {
        val t = s"bkt_${name}_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
        s.sql(s"DROP TABLE IF EXISTS $t")
        df.write.mode("overwrite").bucketBy(8, key).sortBy(key)
          .option("path", s"$base/$name").format("parquet").saveAsTable(t)
        t
      }
      (land(Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority")), "orders", "o_orderkey"),
        land(Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_extendedprice")), "lineitem", "l_orderkey"))
    }

  /** V14 analog horizon rows: om rides the rating, db3i/fragvol are
    * key-derived (integral doubles — exact sums, see Analog scaladoc). */
  private def valuHz(s: org.apache.spark.sql.SparkSession, dir: String) =
    hz(s, dir).select(col("mukey"), col("cokey"), col("comppct"),
      col("hzdept"), col("hzdepb"), col("rating"), col("crating"),
      col("rating").as("om"), (col("cokey") % 5 + 10).cast("double").as("db3i"),
      col("comppct").as("fragvol"))

  /** The shared V14 assembly over any (mapunit universe, horizon) pair —
    * st04 feeds it per-survey-area slices, v14 the whole data. */
  private def buildValu(base: org.apache.spark.sql.DataFrame,
      h: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // max over a STRING buffer is not hash-aggregable — the plan fell
    // back to a SortAggregate pair (full sort of the horizon frame on
    // both sides of the exchange, plan-verified). crating is the analog
    // returnflag alphabet {A,N,R}; rank-encoding it (order-isomorphic,
    // 'A'<'N'<'R') turns the pre-aggregation into a HashAggregate over
    // an int buffer and the identical string is reconstructed after.
    // Loud on alphabet drift: an unexpected value raises rather than
    // silently mis-ranking. NULL passes the guard so it keeps the old
    // max(string) ignored-by-aggregate semantics (crRank stays null).
    val crRank = when(col("crating") === "A", 0)
      .when(col("crating") === "N", 1).when(col("crating") === "R", 2) +
      coalesce(assert_true(
        col("crating").isNull || col("crating").isin("A", "N", "R"),
        lit("buildValu: crating outside {A,N,R} — extend the rank map"))
        .cast("int"), lit(0))
    val cmp = h.groupBy(col("mukey"), col("cokey"), col("comppct"))
      .agg(max(crRank).as("crmax"))
      .select(col("mukey"), col("cokey"), col("comppct"),
        element_at(array(lit("A"), lit("N"), lit("R")), col("crmax") + 1)
          .as("crating"))
    // J12 restricts the NCCPI query table to major components
    val interp = h.filter(col("crating") =!= "N")
      .select(col("mukey"), col("cokey"), col("comppct"),
        when(col("hzdept") === 0, "corn").when(col("hzdept") === 30, "soy")
          .otherwise("cotton").as("rule"),
        (col("rating") * 1000).as("fuzzy"))
    ValuTable.buildFused(base, h, cmp,
      major = col("crating") =!= "N", earthy = col("comppct") >= 10,
      organic = col("crating") === "A", restricted = col("rating") >= 8,
      water = col("crating") === "N", hydric = col("comppct") >= 40,
      interp = interp, nccpiRules = nccpiRules, socSlices = socSlices)
  }

  /** DuckDB mirror of the full Valu1 wide assembly (shared by v14 and
    * st04 — the incremental lake must equal the batch build exactly). */
  private lazy val valuWideOracle: String = {
      val awsCols = Valu.valu1Slices.flatMap { case (t, b) =>
        val ov = graft.analog.OracleSql.ovExpr(t, b)
        Seq(
          s"round(sum(CASE WHEN rating IS NOT NULL THEN comppct*$ov*rating END)/10.0, 4) AS aws${t}_$b",
          s"round(sum(CASE WHEN rating IS NOT NULL THEN comppct*$ov END)/100.0, 4) AS tk${t}_${b}a")
      }
      val socCols = socSlices.flatMap { case (t, b) =>
        val ov = graft.analog.OracleSql.ovExpr(t, b)
        val gate = "om IS NOT NULL AND db3i IS NOT NULL"
        Seq(
          s"floor((sum(CASE WHEN $gate THEN $ov*om*db3i*(100.0-fragvol)*comppct END)/1724.0)*1e4 + 0.5)/1e4 AS soc${t}_$b",
          s"round(sum(CASE WHEN $gate THEN $ov*comppct END)/100.0, 4) AS tk${t}_${b}s")
      }
      val selCols = Seq("musumcpct", "musumcpcta", "musumcpcts", "pctearthmc") ++
        Valu.valu1Slices.flatMap { case (t, b) => Seq(s"aws${t}_$b", s"tk${t}_${b}a") } ++
        Seq("rootznaws", "rootznemc", "droughty") ++
        socSlices.flatMap { case (t, b) => Seq(s"soc${t}_$b", s"tk${t}_${b}s") } ++
        nccpiRules.map(_._2) :+ "pwsl1pomu"
      withCtes(
        s"""SELECT b.mukey, ${selCols.mkString(", ")}
           |FROM (SELECT c_custkey AS mukey FROM customer) b
           |LEFT JOIN sp ON b.mukey = sp.mukey
           |LEFT JOIN awspct ON b.mukey = awspct.mukey
           |LEFT JOIN socpct ON b.mukey = socpct.mukey
           |LEFT JOIN aws ON b.mukey = aws.mukey
           |LEFT JOIN rzaws ON b.mukey = rzaws.mukey
           |LEFT JOIN soc ON b.mukey = soc.mukey
           |LEFT JOIN nccpi ON b.mukey = nccpi.mukey
           |LEFT JOIN pwsl ON b.mukey = pwsl.mukey""".stripMargin,
        hzCte,
        """hzv AS (SELECT mukey, cokey, comppct, hzdept, hzdepb, rating, crating,
          |               rating AS om, CAST(cokey % 5 + 10 AS DOUBLE) AS db3i,
          |               comppct AS fragvol
          |        FROM hz)""".stripMargin,
        """cmp AS (SELECT mukey, cokey, comppct, max(crating) AS crating
          |        FROM hzv GROUP BY mukey, cokey, comppct)""".stripMargin,
        """sp AS (SELECT mukey,
          |  coalesce(sum(comppct), 0.0) AS musumcpct,
          |  coalesce(sum(CASE WHEN crating <> 'N' AND comppct >= 10 THEN comppct END), 0.0) AS pctearthmc
          |FROM cmp GROUP BY mukey)""".stripMargin,
        s"aws AS (SELECT mukey, ${awsCols.mkString(", ")} FROM hzv GROUP BY mukey)",
        """rz AS (SELECT cokey,
          |  coalesce(min(CASE WHEN rating >= 8 AND hzdept < 150 THEN hzdept END), 150.0) AS rzdepth
          |FROM hzv GROUP BY cokey)""".stripMargin,
        """awspct AS (SELECT mukey, sum(comppct) AS musumcpcta
          |FROM (SELECT DISTINCT mukey, cokey, comppct FROM hzv
          |      WHERE rating IS NOT NULL AND hzdepb > hzdept)
          |GROUP BY mukey)""".stripMargin,
        """socpct AS (SELECT mukey, sum(comppct) AS musumcpcts
          |FROM (SELECT DISTINCT h.mukey, h.cokey, h.comppct
          |      FROM hzv h LEFT JOIN rz r ON h.cokey = r.cokey
          |      WHERE h.om IS NOT NULL AND h.db3i IS NOT NULL
          |        AND least(h.hzdepb, coalesce(r.rzdepth, h.hzdepb)) > h.hzdept)
          |GROUP BY mukey)""".stripMargin,
        "hzme AS (SELECT * FROM hzv WHERE crating <> 'N' AND comppct >= 10)",
        """fm AS (SELECT cokey,
          |  coalesce(min(CASE WHEN NOT (crating = 'A') THEN hzdept END), 999.0) AS fmdept
          |FROM hzme GROUP BY cokey)""".stripMargin,
        """pcz AS (SELECT h.mukey, h.cokey, h.comppct,
          |  sum(CASE WHEN h.rating IS NOT NULL
          |        THEN greatest(0.0, least(h.hzdepb, r.rzdepth) - greatest(h.hzdept, f.fmdept)) * h.rating
          |      END) AS awsum,
          |  sum(greatest(0.0, least(h.hzdepb, r.rzdepth) - greatest(h.hzdept, f.fmdept))) AS hzt
          |FROM hzme h JOIN rz r ON h.cokey = r.cokey JOIN fm f ON h.cokey = f.cokey
          |GROUP BY h.mukey, h.cokey, h.comppct)""".stripMargin,
        // mapunit divisor = GetSumPct's component-table pctearthmc (sp),
        // NOT the horizon-present comppct sum; pctearthmc = 0 leaves the
        // RZAWS columns null (reference :1362)
        """rzaws AS (SELECT a.mukey,
          |  CASE WHEN p.pctearthmc > 0
          |       THEN floor((a.wsum/p.pctearthmc/10.0)*1e4 + 0.5)/1e4 END AS rootznaws,
          |  CASE WHEN p.pctearthmc > 0
          |       THEN floor(least(a.hsum/p.pctearthmc, 150.0) + 0.5) END AS rootznemc,
          |  CASE WHEN p.pctearthmc > 0
          |       THEN floor(floor((a.wsum/p.pctearthmc/10.0)*1e4 + 0.5)/1e4 + 0.5) <= 152
          |  END AS droughty
          |FROM (SELECT mukey, sum(comppct*awsum) AS wsum, sum(comppct*hzt) AS hsum
          |      FROM pcz GROUP BY mukey) a
          |JOIN sp p ON a.mukey = p.mukey)""".stripMargin,
        """hzsoc AS (SELECT h.mukey, h.hzdept,
          |  least(h.hzdepb, coalesce(r.rzdepth, h.hzdepb)) AS hzdepb,
          |  h.comppct, h.om, h.db3i, h.fragvol
          |FROM hzv h LEFT JOIN rz r ON h.cokey = r.cokey)""".stripMargin,
        s"soc AS (SELECT mukey, ${socCols.mkString(", ")} FROM hzsoc GROUP BY mukey)",
        """den AS (SELECT mukey,
          |  coalesce(sum(CASE WHEN crating <> 'N' THEN comppct END), 0.0) AS sumpct
          |FROM cmp GROUP BY mukey)""".stripMargin,
        """num AS (SELECT mukey,
          |  sum(CASE WHEN hzdept = 0 THEN rating*1000*comppct END) AS ncorn,
          |  sum(CASE WHEN hzdept = 30 THEN rating*1000*comppct END) AS nsoy,
          |  sum(CASE WHEN hzdept >= 60 THEN rating*1000*comppct END) AS ncot
          |FROM hzv WHERE crating <> 'N' GROUP BY mukey)""".stripMargin,
        """nccpi AS (SELECT n.mukey,
          |  floor((CASE WHEN d.sumpct > 0 THEN ncorn/d.sumpct/10000.0 END)*1e6 + 0.5)/1e6 AS nccpi_corn,
          |  floor((CASE WHEN d.sumpct > 0 THEN nsoy/d.sumpct/10000.0 END)*1e6 + 0.5)/1e6 AS nccpi_soy,
          |  floor((CASE WHEN d.sumpct > 0 THEN ncot/d.sumpct/10000.0 END)*1e6 + 0.5)/1e6 AS nccpi_cotton
          |FROM num n JOIN den d ON n.mukey = d.mukey)""".stripMargin,
        """pwsl AS (SELECT mukey,
          |  CASE WHEN max(CASE WHEN crating = 'N' AND comppct >= 80 THEN 1 ELSE 0 END) = 1
          |       THEN 999.0
          |       ELSE coalesce(sum(CASE WHEN crating = 'N' OR comppct >= 40 THEN comppct END), 0.0)
          |  END AS pwsl1pomu
          |FROM cmp GROUP BY mukey)""".stripMargin)
  }

  /** st04's per-batch transform (the Valu1 slice rebuild the
    * foreachBatch runs) on a static two-area signal — CodegenGateSpec
    * probe target (QuerySet.stBatchPlans). Same buildValu/valuHz the
    * query feeds through Ingest.refreshValu. */
  override def stBatchPlans
      : Map[String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame] =
    Map("st04_valu_incremental" -> ((s, dir) => {
      val base = Tables.load(s, dir, "customer").select(col("c_custkey").as("mukey"))
      def areaOf = concat(lit("SSA"), (col("mukey") % 4).cast("string"))
      val areas = Seq("SSA0", "SSA1")
      buildValu(base.filter(areaOf.isin(areas: _*)),
          valuHz(s, dir).filter(areaOf.isin(areas: _*)))
        .withColumn("areasymbol", areaOf)
    }))

  /** st04's bench twin (r15 verdict #6): the documented ~8 s cost is
    * streaming lifecycle + checkpoint IO around ~2 genuine slice
    * builds (see the query's cost-floor note). The twin prices the
    * OPERATOR — both waves' per-area Valu1 slice rebuilds (SSA1 built
    * twice, as the stream does) with wave 2 superseding wave 1's
    * SSA1, i.e. the final lake content — with no checkpoint, trigger,
    * or parquet landing. Verify keeps the full streaming form against
    * the v14 oracle; the swap is disclosed in the bench artifact's
    * twin_swapped list. */
  override def benchPlans
      : Map[String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame] =
    Map("st04_valu_incremental" -> ((s, dir) => {
      val base = Tables.load(s, dir, "customer").select(col("c_custkey").as("mukey"))
      def areaOf = concat(lit("SSA"), (col("mukey") % 4).cast("string"))
      def buildFor(areas: Seq[String]) =
        buildValu(base.filter(areaOf.isin(areas: _*)),
            valuHz(s, dir).filter(areaOf.isin(areas: _*)))
          .withColumn("areasymbol", areaOf)
      buildFor(Seq("SSA0", "SSA1", "SSA2"))
        .filter(col("areasymbol").isin("SSA0", "SSA2"))
        .unionByName(buildFor(Seq("SSA1", "SSA3")))
        .drop("areasymbol")
    }))
}
