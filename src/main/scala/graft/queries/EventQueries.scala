package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Materialize

import graft.{GraftSession, Tables}
import graft.events.EventOps

/** Temporal event operators: as-of join and rolling range windows.
  * Timestamps follow the repo convention — nanos parquet → microsecond
  * TimestampType via Tables.events, compared as truncated epoch-ms
  * BIGINTs; money as exact cents. */
object EventQueries extends QuerySet {

  /** Shared events projection: truncated epoch-ms + the repo's
    * exact-cents encoding (Exprs.cents — single source of the money
    * rule, same as streaming/Ingest). */
  private def evts(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.events(s, dir).select(col("event_id"), col("user_id"),
      col("event_type"), unix_millis(col("ts")).as("ts_ms"),
      graft.core.Exprs.cents(col("value")).cast("long").as("value_cents"))

  private val eCte =
    """e AS (SELECT event_id, user_id, event_type,
      |             CAST(epoch_ms(ts) AS BIGINT) AS ts_ms,
      |             CAST(floor(value*100 + 0.5) AS BIGINT) AS value_cents
      |      FROM events)""".stripMargin

  /** The funnel oracle (view → $120+ click → $120+ purchase,
    * strictly-after min chain) — spliced by BOTH e05 (relational
    * engine) and st05 (typed fold engine); one definition keeps the
    * two gates in lockstep. */
  private val funnelSql =
    s"""WITH $eCte,
       |k AS (SELECT DISTINCT user_id FROM e),
       |s1 AS (SELECT user_id, min(ts_ms) AS t1 FROM e
       |       WHERE event_type = 'view' GROUP BY 1),
       |s2 AS (SELECT e.user_id, min(e.ts_ms) AS t2 FROM e
       |       JOIN s1 ON e.user_id = s1.user_id AND e.ts_ms > s1.t1
       |       WHERE e.event_type = 'click' AND e.value_cents >= 12000
       |       GROUP BY 1),
       |s3 AS (SELECT e.user_id, min(e.ts_ms) AS t3 FROM e
       |       JOIN s2 ON e.user_id = s2.user_id AND e.ts_ms > s2.t2
       |       WHERE e.event_type = 'purchase' AND e.value_cents >= 12000
       |       GROUP BY 1)
       |SELECT k.user_id, t1, t2, t3,
       |       CAST(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END
       |          + CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END
       |          + CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
       |         AS stages_reached
       |FROM k LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
       |       LEFT JOIN s3 USING (user_id)""".stripMargin

  /** The interval-join oracle (clicks ⨝ views within the trailing
    * hour, exact-micros arithmetic) — spliced by BOTH e03 (batch
    * relational engine) and st07 (watermarked stream-stream join);
    * one definition keeps the two gates in lockstep. */
  private val intervalJoinSql =
    """WITH e AS (SELECT event_id, user_id, event_type,
      |             CAST(epoch_us(ts) AS BIGINT) AS ts_us,
      |             CAST(floor(value*100 + 0.5) AS BIGINT) AS value_cents
      |           FROM events),
      |c AS (SELECT event_id AS click_id, user_id, ts_us AS click_us
      |      FROM e WHERE event_type = 'click'),
      |v AS (SELECT event_id AS view_id, user_id, ts_us AS view_us, value_cents
      |      FROM e WHERE event_type = 'view')
      |SELECT click_id, c.user_id, click_us, view_id, view_us, value_cents
      |FROM c JOIN v ON c.user_id = v.user_id
      | AND view_us > click_us - 3600000000 AND view_us <= click_us""".stripMargin

  val all: Seq[Q] = Seq(

    // E1 — backward as-of join: each click picks the latest view (same
    // user, ts ≤ click ts) via the union-scan formulation — one shuffle
    // on user_id, a running last(ignoreNulls); never a range cross-join.
    Q("e01_asof_join",
      (s, dir) => {
        val e = evts(s, dir)
        val clicks = e.filter(col("event_type") === "click")
          .select("event_id", "user_id", "ts_ms")
        val views = e.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts_ms"), col("event_id"), col("value_cents"))
        EventOps.asOfJoin(clicks, views, "user_id", "ts_ms",
          tie = "event_id", payload = "value_cents", out = "last_view_cents")
      },
      Some(s"""WITH $eCte,
              |u AS (
              |  SELECT event_id, user_id, ts_ms, 1 AS side,
              |         CAST(NULL AS BIGINT) AS p, CAST(NULL AS BIGINT) AS tie
              |  FROM e WHERE event_type = 'click'
              |  UNION ALL
              |  SELECT event_id, user_id, ts_ms, 0, value_cents, event_id
              |  FROM e WHERE event_type = 'view'),
              |x AS (SELECT *, last_value(CASE WHEN side = 0 THEN struct_pack(v := p) END
              |          IGNORE NULLS) OVER (
              |        PARTITION BY user_id
              |        ORDER BY ts_ms NULLS FIRST, side, tie NULLS FIRST
              |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
              |      FROM u)
              |SELECT event_id, user_id, ts_ms, struct_extract(m, 'v') AS last_view_cents
              |FROM x WHERE side = 1""".stripMargin)),

    // E14 — NEAREST as-of join (pandas merge_asof direction='nearest'):
    // each click picks its time-closest view either direction within a
    // 6-hour tolerance — backward inclusive, forward strictly after,
    // distance ties backward (EventOps.asOfNearest scaladoc). The
    // oracle replays the identical single union scan with DuckDB's
    // IGNORE NULLS frame aggregates, so marker selection, tolerance,
    // and the tie rule are all engine-pinned. Matched, forward-matched,
    // and out-of-tolerance-null rows are all non-vacuous at the gate
    // scales.
    Q("e14_asof_nearest",
      (s, dir) => {
        val e = evts(s, dir)
        val clicks = e.filter(col("event_type") === "click")
          .select("event_id", "user_id", "ts_ms")
        val views = e.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts_ms"), col("event_id"), col("value_cents"))
        EventOps.asOfNearest(clicks, views, "user_id", "ts_ms",
          tie = "event_id", payload = "value_cents", tol = 21600000L,
          out = "near_view_cents")
      },
      Some(s"""WITH $eCte,
              |u AS (
              |  SELECT event_id, user_id, ts_ms, 1 AS side,
              |         CAST(NULL AS BIGINT) AS rts, CAST(NULL AS BIGINT) AS p,
              |         CAST(NULL AS BIGINT) AS tie
              |  FROM e WHERE event_type = 'click'
              |  UNION ALL
              |  SELECT event_id, user_id, ts_ms, 0, ts_ms, value_cents, event_id
              |  FROM e WHERE event_type = 'view'),
              |x AS (SELECT *,
              |    last_value(CASE WHEN side = 0 THEN struct_pack(rts := rts, v := p) END
              |        IGNORE NULLS) OVER (
              |      PARTITION BY user_id
              |      ORDER BY ts_ms NULLS FIRST, side, tie NULLS FIRST
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mb,
              |    first_value(CASE WHEN side = 0 THEN struct_pack(rts := rts, v := p) END
              |        IGNORE NULLS) OVER (
              |      PARTITION BY user_id
              |      ORDER BY ts_ms NULLS FIRST, side, tie NULLS FIRST
              |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS mf
              |  FROM u),
              |y AS (SELECT event_id, user_id, ts_ms,
              |        ts_ms - struct_extract(mb, 'rts') AS db,
              |        struct_extract(mf, 'rts') - ts_ms AS df,
              |        struct_extract(mb, 'v') AS bv,
              |        struct_extract(mf, 'v') AS fv
              |      FROM x WHERE side = 1),
              |z AS (SELECT *,
              |        (db IS NOT NULL AND db <= 21600000
              |         AND (df IS NULL OR df > 21600000 OR db <= df)) AS use_b,
              |        (df IS NOT NULL AND df <= 21600000) AS f_ok
              |      FROM y)
              |SELECT event_id, user_id, ts_ms,
              |       CASE WHEN use_b THEN bv WHEN f_ok THEN fv END AS near_view_cents,
              |       CASE WHEN use_b THEN 'backward' WHEN f_ok THEN 'forward' END
              |         AS near_view_cents_dir,
              |       CASE WHEN use_b THEN db WHEN f_ok THEN df END
              |         AS near_view_cents_delta
              |FROM z""".stripMargin)),

    // E3 — attribution interval join: every (click, view) pair of the
    // same user with the view in the click's trailing hour. Joined in
    // MICROSECONDS so the batch result is bit-equivalent to the
    // streaming twin's INTERVAL arithmetic (StreamingSpec pins it).
    Q("e03_interval_join",
      (s, dir) => {
        val e = Tables.events(s, dir).select(col("event_id"), col("user_id"),
          col("event_type"), unix_micros(col("ts")).as("ts_us"),
          graft.core.Exprs.cents(col("value")).cast("long").as("value_cents"))
        val clicks = e.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"),
            col("ts_us").as("click_us"))
        val views = e.filter(col("event_type") === "view")
          .select(col("event_id").as("view_id"), col("user_id"),
            col("ts_us").as("view_us"), col("value_cents"))
        EventOps.intervalJoin(clicks, views, "user_id",
            "click_us", "view_us", lookback = 3600000000L)
          .select(col("click_id"), col("user_id"), col("click_us"),
            col("view_id"), col("view_us"), col("value_cents"))
      },
      Some(intervalJoinSql)),

    // ST07 — e03 as a STREAM-STREAM JOIN: clicks and views arrive as
    // two watermarked streams and matches are emitted as soon as both
    // sides exist — the facility that makes attribution viable on live
    // data (join state is bounded by watermark + interval, never the
    // history). Input lands in two TIME-SPLIT waves through ONE
    // checkpoint: each wave is strictly later than the previous, so
    // the persisted watermark can never drop later input, while a
    // later-wave click within an hour of an earlier-wave view MUST
    // find it in resumed join state (and the file-source log proves
    // earlier waves are not re-joined). The two cutoffs are chosen to
    // SPLIT a real match pair at every gated SF (T1 straddles a pair
    // at sf0.001, T2 at sf0.01 and sf0.1), so the cross-wave
    // state-retention path is non-vacuous everywhere. delay (2h) >
    // interval (1h) keeps boundary-straddling view state alive across
    // the resumes. The final output must equal the batch interval
    // join — SAME oracle as e03.
    Q("st07_stream_interval_join",
      (s, dir) => {
        import org.apache.spark.sql.streaming.Trigger
        val tmp = GraftSession.freshScratch(s, "st07", dir)
        val ev = eventCents(s, dir)
        val cut1 = timestamp_micros(lit(1704432000000000L))
        val cut2 = timestamp_micros(lit(1705607000000000L))
        def run(): Unit = ij("inner")(s.readStream.schema(ev.schema).parquet(s"$tmp/drop"))
          .writeStream.outputMode("append").format("parquet")
          .option("path", s"$tmp/out")
          .option("checkpointLocation", s"$tmp/ck")
          .trigger(Trigger.AvailableNow()).start()
          .awaitTermination()
        // join state is bounded by watermark+interval
        Materialize.sized(s, Tables.rowCount(s, dir, "events")) {
          ev.filter(col("ts") < cut1).coalesce(4)
            .write.mode("append").parquet(s"$tmp/drop")
          run()
          ev.filter(col("ts") >= cut1 && col("ts") < cut2).coalesce(4)
            .write.mode("append").parquet(s"$tmp/drop")
          run()
          ev.filter(col("ts") >= cut2).coalesce(4)
            .write.mode("append").parquet(s"$tmp/drop")
          run()
        }
        s.read.parquet(s"$tmp/out")
      },
      Some(intervalJoinSql)),

    // ST10 — e03's LEFT OUTER as a stream-stream join: unattributed
    // clicks must ALSO emit (null-padded) — the report side of
    // attribution, and the semantics st07's inner form cannot give. A
    // streaming outer join can only null-pad a row once the watermark
    // PROVES no matching view can still arrive, so end-of-stream
    // clicks would sit in state forever after the last real batch;
    // the production answer is that the stream keeps running — here a
    // SENTINEL wave (one far-future click from a reserved user id)
    // pushes the watermark past every real click + interval, and the
    // engine's no-data micro-batch then flushes the remaining
    // unmatched state before AvailableNow terminates. The sentinel
    // itself stays unflushed in state (its own watermark never
    // passes) and is excluded from the read-back; the final output
    // must equal the batch LEFT interval join — the e03 oracle's
    // LEFT variant. Two real waves through one checkpoint keep the
    // st07 resume semantics in play (matched pairs still emit on
    // arrival; only the null-padding waits for the watermark).
    Q("st10_stream_outer_join",
      (s, dir) => {
        import org.apache.spark.sql.streaming.Trigger
        val tmp = GraftSession.freshScratch(s, "st10", dir)
        val ev = eventCents(s, dir)
        val cut = timestamp_micros(lit(1705607000000000L))
        def run(): Unit = ij("left_outer")(s.readStream.schema(ev.schema).parquet(s"$tmp/drop"))
          .writeStream.outputMode("append").format("parquet")
          .option("path", s"$tmp/out")
          .option("checkpointLocation", s"$tmp/ck")
          .trigger(Trigger.AvailableNow()).start()
          .awaitTermination()
        Materialize.sized(s, Tables.rowCount(s, dir, "events")) {
          ev.filter(col("ts") < cut).coalesce(4)
            .write.mode("append").parquet(s"$tmp/drop")
          run()
          ev.filter(col("ts") >= cut).coalesce(4)
            .write.mode("append").parquet(s"$tmp/drop")
          run()
          // sentinel wave: one far-future click AND one far-future
          // view under DISTINCT reserved users (so they cannot match
          // each other) — the global watermark is the MIN over both
          // sides' watermark nodes, so BOTH must advance past every
          // real click + interval before the no-data micro-batch
          // flushes the remaining unmatched clicks
          import s.implicits._
          Seq((-1L, -1L, "click", 1767225600000000L, 0L),
            (-2L, -2L, "view", 1767225600000000L, 0L))
            .toDF("event_id", "user_id", "event_type", "us", "value_cents")
            .select(col("event_id"), col("user_id"), col("event_type"),
              timestamp_micros(col("us")).as("ts"), col("value_cents"))
            .coalesce(1).write.mode("append").parquet(s"$tmp/drop")
          run()
        }
        s.read.parquet(s"$tmp/out").filter(col("user_id") >= 0L)
      },
      Some("""WITH e AS (SELECT event_id, user_id, event_type,
             |             CAST(epoch_us(ts) AS BIGINT) AS ts_us,
             |             CAST(floor(value*100 + 0.5) AS BIGINT) AS value_cents
             |           FROM events),
             |c AS (SELECT event_id AS click_id, user_id, ts_us AS click_us
             |      FROM e WHERE event_type = 'click'),
             |v AS (SELECT event_id AS view_id, user_id, ts_us AS view_us, value_cents
             |      FROM e WHERE event_type = 'view')
             |SELECT click_id, c.user_id, click_us, view_id, view_us, value_cents
             |FROM c LEFT JOIN v ON c.user_id = v.user_id
             | AND view_us > click_us - 3600000000 AND view_us <= click_us""".stripMargin)),

    // E15 — time-decayed MULTI-TOUCH attribution: e01/e03 assign a
    // conversion to ONE touchpoint; production attribution splits the
    // credit across the trailing touch set with recency decay. Each
    // purchase credits its clicks in the trailing hour with weight
    // 256>>rank (rank 1 = most recent; ties broken by id — engine-
    // portable), capped at 8 touches; the geometric sum has the
    // closed form Σ = 256 − (256>>n), so the credit split needs NO
    // second aggregation pass — rank and touch count come from one
    // window over the per-conversion candidate set (bounded by the
    // lookback, never a user's full history), and the integer floor
    // division is exact cross-engine. Plan: the e03 interval join +
    // one window partitioned by conversion.
    Q("e15_attribution_decay",
      (s, dir) => {
        val e = Tables.events(s, dir).select(col("event_id"), col("user_id"),
          col("event_type"), unix_micros(col("ts")).as("ts_us"),
          graft.core.Exprs.cents(col("value")).cast("long").as("value_cents"))
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"),
            col("ts_us").as("p_us"), col("value_cents"))
        val clicks = e.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"),
            col("ts_us").as("c_us"))
        val cand = EventOps.intervalJoin(purchases, clicks, "user_id",
          "p_us", "c_us", lookback = 3600000000L)
        val part = org.apache.spark.sql.expressions.Window
          .partitionBy(col("purchase_id"))
        cand
          .withColumn("rnk", row_number().over(
            part.orderBy(col("c_us").desc, col("click_id").asc)).cast("long"))
          .withColumn("tot", count(lit(1)).over(part))
          .filter(col("rnk") <= 8)
          .select(col("purchase_id"), col("user_id"), col("click_id"),
            col("rnk"),
            expr("value_cents * (256 >> rnk) div (256 - (256 >> least(tot, 8)))")
              .as("credit_cents"))
      },
      Some("""WITH e AS (SELECT event_id, user_id, event_type,
             |             CAST(epoch_us(ts) AS BIGINT) AS ts_us,
             |             CAST(floor(value*100 + 0.5) AS BIGINT) AS value_cents
             |           FROM events),
             |p AS (SELECT event_id AS purchase_id, user_id, ts_us AS p_us,
             |             value_cents
             |      FROM e WHERE event_type = 'purchase'),
             |c AS (SELECT event_id AS click_id, user_id, ts_us AS c_us
             |      FROM e WHERE event_type = 'click'),
             |cand AS (SELECT p.purchase_id, p.user_id, p.value_cents,
             |                c.click_id, c.c_us
             |         FROM p JOIN c ON p.user_id = c.user_id
             |          AND c.c_us > p.p_us - 3600000000
             |          AND c.c_us <= p.p_us),
             |r AS (SELECT *,
             |        row_number() OVER (PARTITION BY purchase_id
             |          ORDER BY c_us DESC, click_id ASC) AS rnk,
             |        count(*) OVER (PARTITION BY purchase_id) AS tot
             |      FROM cand)
             |SELECT purchase_id, user_id, click_id, CAST(rnk AS BIGINT) AS rnk,
             |       CAST(value_cents * (256 >> rnk)
             |            // (256 - (256 >> least(tot, 8))) AS BIGINT) AS credit_cents
             |FROM r WHERE rnk <= 8""".stripMargin)),

    // E16 — time-series gap fill + linear interpolation: each user's
    // daily value series is completed to a dense day spine over the
    // user's own [first, last] active range, and missing days get the
    // linear interpolation between the surrounding observed days — the
    // resampling step run before windowed feature extraction (a gap
    // would otherwise silently shrink every downstream window). The
    // fixture keeps per-user daily density ≈ 0.9 at EVERY SF (users
    // scale with volume, per-user activity doesn't), so ~10% of output
    // rows are real interpolations at any scale. Daily values are
    // exact integer cent sums, and the interpolation is the same IEEE
    // double expression on both engines (integer operands, one divide,
    // one multiply, one add — bit-identical), so the doubles
    // hash-match without rounding. Plan shape + bounded-state
    // argument: see EventOps.gapFill.
    Q("e16_gapfill_interpolate",
      (s, dir) => {
        val d = Tables.events(s, dir)
          .filter(col("user_id").isNotNull && col("value").isNotNull)
          .select(col("user_id"),
            // floor, not truncate-toward-zero: matches the oracle's
            // BIGINT `//` for negative (pre-1970) epochs too
            floor(unix_millis(col("ts")) / 86400000d)
              .cast("long").as("day"),
            graft.core.Exprs.cents(col("value")).cast("long").as("cents"))
          .groupBy(col("user_id"), col("day"))
          .agg(sum(col("cents")).as("v"))
        EventOps.gapFill(d, "user_id", "day", "v")
      },
      Some("""WITH d AS (SELECT user_id,
             |             CAST(epoch_ms(ts) AS BIGINT)//86400000 AS day,
             |             CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT))
             |                  AS BIGINT) AS v
             |           FROM events
             |           WHERE user_id IS NOT NULL AND value IS NOT NULL
             |           GROUP BY 1, 2),
             |sp AS (SELECT user_id,
             |         unnest(generate_series(min(day), max(day))) AS day
             |       FROM d GROUP BY user_id),
             |j AS (SELECT sp.user_id, sp.day, d.v
             |      FROM sp LEFT JOIN d USING (user_id, day)),
             |x AS (SELECT *,
             |        last_value(v IGNORE NULLS) OVER
             |          (PARTITION BY user_id ORDER BY day
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             |        last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
             |          OVER (PARTITION BY user_id ORDER BY day
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
             |        first_value(v IGNORE NULLS) OVER
             |          (PARTITION BY user_id ORDER BY day
             |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             |        first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
             |          OVER (PARTITION BY user_id ORDER BY day
             |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
             |      FROM j)
             |SELECT user_id, day,
             |       CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
             |            ELSE CAST(pv AS DOUBLE) + CAST(nv - pv AS DOUBLE) *
             |                 (CAST(day - pd AS DOUBLE) / CAST(nd - pd AS DOUBLE))
             |       END AS value_filled,
             |       v IS NULL AS is_gap
             |FROM x""".stripMargin)),

    // E4 — semi-structured extraction: pull a typed field out of the
    // JSON props column (get_json_object — Catalyst's native JSON path,
    // no UDF) and aggregate it per event type. Extraction stays inside
    // whole-stage codegen; sums are exact integers.
    Q("e04_json_extract",
      (s, dir) => Tables.events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n_k"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k")),
      Some("""SELECT event_type,
             |       count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_k,
             |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             |       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
             |       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
             |FROM events GROUP BY event_type""".stripMargin)),

    // E2 — per-user trailing-1h rolling count and value sum. RANGE
    // framing is value-based, so timestamp ties see identical frames —
    // deterministic; cents keep the sum integer-exact.
    Q("e02_rolling_window",
      (s, dir) => {
        val e = evts(s, dir).drop("event_type")
        EventOps.rollingRange(e, "user_id", "ts_ms", 3600000L, Seq(
            count(lit(1)) -> "n_1h",
            sum(col("value_cents")) -> "sum_cents_1h"))
          .select(col("event_id"), col("user_id"), col("ts_ms"), col("n_1h"),
            (col("sum_cents_1h") / 100.0).as("sum_value_1h"))
      },
      Some(s"""WITH $eCte
              |SELECT event_id, user_id, ts_ms,
              |       count(*) OVER w AS n_1h,
              |       CAST(sum(value_cents) OVER w AS BIGINT)/100.0 AS sum_value_1h
              |FROM e
              |WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms
              |             RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // E5 — ordered conversion funnel: earliest view, then the earliest
    // high-value click strictly after it, then the earliest high-value
    // purchase strictly after THAT; stages_reached = contiguous
    // prefix (value cuts make the stages discriminating — a plain
    // type funnel completes for every user on this corpus). One
    // filtered min-agg per step, joined key-to-key — never an
    // event-level sort or event×event join.
    Q("e05_funnel",
      (s, dir) => EventOps.funnelWhere(evts(s, dir), "user_id", "ts_ms", Seq(
        col("event_type") === "view",
        col("event_type") === "click" && col("value_cents") >= 12000L,
        col("event_type") === "purchase" && col("value_cents") >= 12000L)),
      Some(funnelSql)),

    // ST5 — the funnel as INCREMENTAL per-user state: the typed
    // greedy fold engine (streaming/FunnelStream — O(steps) state,
    // stage times never regress) run as its batch twin, through TWO
    // step sets (the e05 3-stage demo and a 2-stage big-purchase
    // funnel) so the gate pins the engine as step-set-generic. The
    // oracle mirrors each leg with the relational min-agg chain;
    // StreamingSpec pins stream == batch across waves for both.
    Q("st05_funnel_stateful",
      (s, dir) => {
        import s.implicits._
        import graft.streaming.FunnelStream
        // the typed engine's contract excludes null keys/fields (the
        // FEvent encoder would fail loudly); filtering here makes a
        // future null-bearing corpus degrade to a diagnosable row
        // diff, not a job crash. e05 stays the null-tolerant engine.
        val ev = evts(s, dir)
          .select(col("user_id"), col("ts_ms"), col("event_type"),
            col("value_cents"))
          .filter(col("user_id").isNotNull && col("ts_ms").isNotNull &&
            col("event_type").isNotNull && col("value_cents").isNotNull)
          .as[FunnelStream.FEvent]
        def leg(tag: String, f: FunnelStream.Funnel) =
          f.funnelBatch(ev).toDF().select(
            lit(tag).as("funnel"), col("user_id"),
            col("times").getItem(0).as("t1"),
            (if (f.steps.size > 1) col("times").getItem(1)
             else lit(null).cast("long")).as("t2"),
            (if (f.steps.size > 2) col("times").getItem(2)
             else lit(null).cast("long")).as("t3"),
            col("stages_reached"))
        leg("main", FunnelStream.e05)
          .unionByName(leg("big_buy", FunnelStream.bigPurchase))
      },
      // same min-chain shapes as funnelSql, but over the null-free key
      // universe (the typed engine's contract); stage 1 (view) is
      // shared by both funnel definitions
      Some(
        s"""WITH $eCte,
           |k AS (SELECT DISTINCT user_id FROM e WHERE user_id IS NOT NULL),
           |s1 AS (SELECT user_id, min(ts_ms) AS t1 FROM e
           |       WHERE event_type = 'view' GROUP BY 1),
           |s2 AS (SELECT e.user_id, min(e.ts_ms) AS t2 FROM e
           |       JOIN s1 ON e.user_id = s1.user_id AND e.ts_ms > s1.t1
           |       WHERE e.event_type = 'click' AND e.value_cents >= 12000
           |       GROUP BY 1),
           |s3 AS (SELECT e.user_id, min(e.ts_ms) AS t3 FROM e
           |       JOIN s2 ON e.user_id = s2.user_id AND e.ts_ms > s2.t2
           |       WHERE e.event_type = 'purchase' AND e.value_cents >= 12000
           |       GROUP BY 1),
           |b2 AS (SELECT e.user_id, min(e.ts_ms) AS t2 FROM e
           |       JOIN s1 ON e.user_id = s1.user_id AND e.ts_ms > s1.t1
           |       WHERE e.event_type = 'purchase' AND e.value_cents >= 20000
           |       GROUP BY 1)
           |SELECT 'main' AS funnel, k.user_id, t1, t2, t3,
           |       CAST(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END
           |          + CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END
           |          + CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
           |         AS stages_reached
           |FROM k LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
           |       LEFT JOIN s3 USING (user_id)
           |UNION ALL
           |SELECT 'big_buy' AS funnel, k.user_id, t1, b2.t2,
           |       CAST(NULL AS BIGINT) AS t3,
           |       CAST(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END
           |          + CASE WHEN b2.t2 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
           |         AS stages_reached
           |FROM k LEFT JOIN s1 USING (user_id) LEFT JOIN b2 USING (user_id)""".stripMargin)),

    // E7 — event cadence: exact p50/p90 of per-user inter-event gaps
    // by event type, at MINUTE granularity (quantizing first keeps the
    // distinct-value distribution small — the groupedQuantiles
    // precondition — exactly how a 100 TB run would bucket a
    // continuous gap domain). Gap multiset is tie-order invariant.
    Q("e07_event_gaps",
      (s, dir) => {
        val gaps = EventOps.interEventGaps(evts(s, dir),
            Seq("user_id", "event_type"), "ts_ms", "event_id")
          .select(col("event_type"),
            floor(col("gap") / 60000).cast("long").as("gap_min"))
        graft.core.Stats.groupedQuantiles(gaps, "event_type", "gap_min",
          Seq(50 -> "p50_gap_min", 90 -> "p90_gap_min"))
      },
      Some(s"""WITH $eCte,
              |g AS (SELECT event_type,
              |        ts_ms - lag(ts_ms) OVER (PARTITION BY user_id, event_type
              |                                 ORDER BY ts_ms, event_id) AS gap
              |      FROM e),
              |gm AS (SELECT event_type, gap//60000 AS gap_min FROM g
              |       WHERE gap IS NOT NULL),
              |c AS (SELECT event_type, gap_min, count(*) AS c FROM gm GROUP BY 1, 2),
              |x AS (SELECT event_type, gap_min,
              |        sum(c) OVER (PARTITION BY event_type ORDER BY gap_min) AS cum,
              |        sum(c) OVER (PARTITION BY event_type) AS n
              |      FROM c)
              |SELECT event_type,
              |  min(CASE WHEN cum >= (n*50 + 99) // 100 THEN gap_min END) AS p50_gap_min,
              |  min(CASE WHEN cum >= (n*90 + 99) // 100 THEN gap_min END) AS p90_gap_min
              |FROM x GROUP BY 1""".stripMargin)),

    // E8 — windowed top-k "trending": for each (day, event type), the
    // top-3 users by event count with (count desc, user asc)
    // deterministic ranking. Aggregate FIRST, window over the
    // aggregated (day, type, user) rows only — the raw event table
    // shuffles once into the partial-aggregating rollup and the window
    // never sees it.
    Q("e08_trending",
      (s, dir) => {
        val byUser = evts(s, dir)
          .filter(col("user_id").isNotNull)
          .select(floor(col("ts_ms") / 86400000).cast("long").as("day"),
            col("event_type"), col("user_id"))
          .groupBy(col("day"), col("event_type"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
        graft.core.Ranked.topK(byUser, Seq(col("day"), col("event_type")),
          Seq(col("n_events").desc, col("user_id").asc), 3)
      },
      Some(s"""WITH $eCte,
              |u AS (SELECT ts_ms//86400000 AS day, event_type, user_id,
              |        count(*) AS n_events
              |      FROM e WHERE user_id IS NOT NULL GROUP BY 1, 2, 3)
              |SELECT day, event_type, user_id, n_events,
              |       CAST(rn AS BIGINT) AS rank
              |FROM (SELECT *, row_number() OVER (PARTITION BY day, event_type
              |        ORDER BY n_events DESC, user_id) AS rn FROM u) z
              |WHERE rn <= 3""".stripMargin)),

    // E9 — last-touch revenue attribution: each purchase credits the
    // most recent click by the same user within a 7-day lookback, and
    // the report rolls credited revenue up by day — the canonical
    // marketing-attribution composition (as-of join → window test →
    // rollup). The as-of picks the latest click via e01's union-scan
    // machinery (one shuffle on user, never a range cross-join); ties
    // at one timestamp resolve to the highest click id on both
    // engines. Purchases with no qualifying click still count in
    // n_purchases.
    Q("e09_attribution",
      (s, dir) => {
        val e = evts(s, dir)
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts_ms"),
            col("value_cents"))
        val clicks = e.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts_ms"),
            col("event_id").as("click_id"),
            struct(col("ts_ms").as("c_ms"),
              col("event_id").as("c_id")).as("pay"))
        val attributed = EventOps.asOfJoin(purchases, clicks, "user_id",
            "ts_ms", tie = "click_id", payload = "pay", out = "last_click")
          .withColumn("attr",
            col("last_click.c_ms").isNotNull &&
              col("last_click.c_ms") > col("ts_ms") - 604800000L)
        attributed
          .groupBy(floor(col("ts_ms") / 86400000).cast("long").as("day"))
          .agg(count(lit(1)).as("n_purchases"),
            sum(when(col("attr"), 1L).otherwise(0L)).as("n_attributed"),
            sum(when(col("attr"), col("value_cents")).otherwise(0L))
              .as("attributed_cents"))
      },
      Some(s"""WITH $eCte,
              |p AS (SELECT event_id, user_id, ts_ms, value_cents FROM e
              |      WHERE event_type = 'purchase'),
              |c AS (SELECT user_id, ts_ms AS c_ms, event_id AS c_id FROM e
              |      WHERE event_type = 'click' AND user_id IS NOT NULL),
              |m AS (SELECT p.event_id, p.ts_ms, p.value_cents, c_ms,
              |        row_number() OVER (PARTITION BY p.event_id
              |          ORDER BY c_ms DESC, c_id DESC) AS rn
              |      FROM p LEFT JOIN c
              |        ON p.user_id = c.user_id AND c.c_ms <= p.ts_ms),
              |b AS (SELECT ts_ms, value_cents,
              |        CASE WHEN c_ms IS NOT NULL
              |               AND c_ms > ts_ms - 604800000 THEN 1 ELSE 0 END AS attr
              |      FROM m WHERE rn = 1)
              |SELECT ts_ms//86400000 AS day, count(*) AS n_purchases,
              |       CAST(sum(attr) AS BIGINT) AS n_attributed,
              |       CAST(sum(CASE WHEN attr = 1 THEN value_cents ELSE 0 END) AS BIGINT)
              |         AS attributed_cents
              |FROM b GROUP BY 1""".stripMargin)),

    // E10 — daily-volume anomaly report: every (event type, day)
    // rollup row scored against the type's exact median daily count —
    // ratio-to-median plus a 1.2× spike flag (the ops-dashboard
    // "traffic anomaly" query). Aggregate FIRST: the raw events
    // shuffle once into the (type, day) rollup; the median comes from
    // the tiny distinct-count distribution (Stats.groupedQuantiles —
    // never a row sort) and broadcasts back onto the 150-row rollup.
    // The ratio is one correctly-rounded division then the repo's
    // floor-form half-up rounding — engine-identical bits.
    Q("e10_daily_anomaly",
      (s, dir) => {
        val daily = evts(s, dir)
          .select(col("event_type"),
            floor(col("ts_ms") / 86400000).cast("long").as("day"))
          .groupBy(col("event_type"), col("day"))
          .agg(count(lit(1)).as("n_events"))
        val med = graft.core.Stats.groupedQuantiles(daily, "event_type",
          "n_events", Seq(50 -> "p50_n"))
        daily.join(broadcast(med), Seq("event_type"))
          .select(col("event_type"), col("day"), col("n_events"), col("p50_n"),
            graft.core.Exprs.roundHalfUp(
              col("n_events").cast("double") / col("p50_n").cast("double"), 4)
              .as("ratio_to_median"),
            (col("n_events") * 10 > col("p50_n") * 12).as("spike"))
      },
      Some(s"""WITH $eCte,
              |dd AS (SELECT event_type, ts_ms//86400000 AS day,
              |         count(*) AS n_events
              |       FROM e GROUP BY 1, 2),
              |c AS (SELECT event_type, n_events, count(*) AS c
              |      FROM dd GROUP BY 1, 2),
              |x AS (SELECT event_type, n_events,
              |        sum(c) OVER (PARTITION BY event_type ORDER BY n_events) AS cum,
              |        sum(c) OVER (PARTITION BY event_type) AS n
              |      FROM c),
              |m AS (SELECT event_type,
              |        min(CASE WHEN cum >= (n*50 + 99)//100 THEN n_events END) AS p50_n
              |      FROM x GROUP BY 1)
              |SELECT dd.event_type, day, n_events, p50_n,
              |       floor((CAST(n_events AS DOUBLE)/CAST(p50_n AS DOUBLE))*1e4 + 0.5)/1e4
              |         AS ratio_to_median,
              |       n_events * 10 > p50_n * 12 AS spike
              |FROM dd JOIN m USING (event_type)""".stripMargin)),

    // E6 — day-grain retention cohorts: users grouped by first-active
    // day, fraction still active k days later (k ≤ 7). Activity dedups
    // to (user, day) before anything else — no raw-event shuffle.
    Q("e06_retention",
      (s, dir) => EventOps.retentionCohorts(evts(s, dir), "user_id", "ts_ms"),
      // null users are excluded HERE too (retentionCohorts filters them
      // up front): without it a NULL user would seat in a cohort via
      // the f/sz aggregates yet vanish from n_active's USING join —
      // engine-divergent the day the generator emits one
      Some(s"""WITH $eCte,
              |d AS (SELECT DISTINCT user_id, ts_ms//86400000 AS period FROM e
              |      WHERE user_id IS NOT NULL),
              |f AS (SELECT user_id, min(period) AS cohort FROM d GROUP BY 1),
              |sz AS (SELECT cohort, count(*) AS cohort_size FROM f GROUP BY 1),
              |a AS (SELECT cohort, period - cohort AS k, count(*) AS n_active
              |      FROM d JOIN f USING (user_id)
              |      WHERE period - cohort <= 7 GROUP BY 1, 2)
              |SELECT a.cohort, k, n_active, cohort_size,
              |       floor((CAST(n_active AS DOUBLE)/cohort_size)*1e4 + 0.5)/1e4
              |         AS retention
              |FROM a JOIN sz USING (cohort)""".stripMargin)),

    // E11 — Spark's NATIVE session_window operator (the declarative
    // gap-session groupBy that runs unchanged in batch and Structured
    // Streaming) — st02 demonstrates the same semantics via the typed
    // flatMapGroupsWithState engine; this pins the built-in. Window
    // end = last event + gap; session assignment happens at
    // MICROSECOND precision, so the oracle folds over epoch_us and
    // only truncates to ms at output (a ms-truncated fold can merge a
    // pair the engine splits when the µs diff straddles a ms
    // boundary). Spark's merge is GAP-INCLUSIVE — an event exactly
    // 30 min after the previous one still merges (EventOpsSpec pins
    // this on a synthetic boundary pair) — hence the strict > split
    // below, the same rule as st02's hand fold.
    Q("e11_session_window",
      (s, dir) => Tables.events(s, dir)
        .filter(col("user_id").isNotNull)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"),
          sum(graft.core.Exprs.cents(col("value"))).cast("long").as("sum_cents"))
        .select(col("user_id"), unix_millis(col("sw.start")).as("start_ms"),
          unix_millis(col("sw.end")).as("end_ms"), col("n_events"), col("sum_cents")),
      Some("""WITH e AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
             |                 CAST(floor(value*100 + 0.5) AS BIGINT) AS cents
             |            FROM events WHERE user_id IS NOT NULL),
             |x AS (SELECT user_id, ts_us, cents,
             |        CASE WHEN lag(ts_us) OVER w IS NULL
             |               OR ts_us - lag(ts_us) OVER w > 1800000000
             |             THEN 1 ELSE 0 END AS new_sess
             |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
             |y AS (SELECT user_id, ts_us, cents,
             |        sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us
             |          ROWS UNBOUNDED PRECEDING) AS sid
             |      FROM x)
             |SELECT user_id, min(ts_us)//1000 AS start_ms,
             |       max(ts_us)//1000 + 1800000 AS end_ms,
             |       count(*) AS n_events, CAST(sum(cents) AS BIGINT) AS sum_cents
             |FROM y GROUP BY user_id, sid""".stripMargin)),

    // ST08 — watermark late-drop ACCOUNTING as a driver gate (the
    // silent-late-data failure mode surfaced as an exact metric;
    // StreamingSpec pins the mechanism, this pins the numbers against
    // the oracle). Two AvailableNow runs share one checkpoint: run 1
    // processes an on-time wave ([cut−2h, cut], cut = midpoint of the
    // event-time span) and persists watermark ≈ max(wave1)−1h; run 2
    // lands rows ≥3h staler than the cut — far below the RESTORED
    // watermark — plus fresh rows past the cut. Every stale (hour,
    // type) group must be dropped and counted by
    // numRowsDroppedByWatermark, while all on-time rows reach state.
    // The metric counts rows arriving at the state operator AFTER
    // map-side partial aggregation, so each wave lands as ONE file
    // (one map task → one partial-agg row per group) to make the
    // expected count the exact stale GROUP count. Final state is
    // reconstructed from the update-mode sink (last batch wins per
    // key) — state_groups/state_rows prove the on-time side landed
    // intact. All three numbers are recomputed relationally by the
    // oracle from the same cut arithmetic.
    Q("st08_watermark_drop",
      (s, dir) => {
        import org.apache.spark.sql.streaming.Trigger
        val tmp = GraftSession.freshScratch(s, "st08", dir)
        val ev = Tables.events(s, dir).select(col("ts"), col("event_type"))
        val mm = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
        val cut = (mm.getLong(0) + mm.getLong(1)) / 2
        val hr = 3600000000L
        val us = unix_micros(col("ts"))
        def land(f: org.apache.spark.sql.Column, name: String): Unit =
          ev.filter(f).coalesce(1).write.parquet(s"$tmp/drop/$name")
        land(us.between(cut - 2 * hr, cut), "w1")
        val schema = ev.schema
        def run(): Long = {
          val q = s.readStream.schema(schema).parquet(s"$tmp/drop/*")
            .withWatermark("ts", "1 hour")
            .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
            .agg(count(lit(1)).as("n"))
            .select(unix_millis(col("win.start")).as("w_ms"), col("event_type"), col("n"))
            .writeStream.outputMode("update")
            .option("checkpointLocation", s"$tmp/ck")
            .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
              b.withColumn("batch_id", lit(id))
                .write.mode("append").parquet(s"$tmp/out")
            }
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
          q.recentProgress.toSeq.flatMap(_.stateOperators)
            .map(_.numRowsDroppedByWatermark).sum
        }
        // state here is a few thousand (window, type) groups
        val dropped = Materialize.sized(s, Tables.rowCount(s, dir, "events")) {
          run()
          land(us <= cut - 3 * hr, "w2stale")
          land(us > cut, "w2fresh")
          run()
        }
        // final state = last emitted update per key (update mode emits
        // the key's cumulative count each time it changes; batch ids
        // are monotone across the checkpoint-shared runs)
        val out = s.read.parquet(s"$tmp/out")
        val last = out.groupBy(col("w_ms"), col("event_type"))
          .agg(max_by(col("n"), col("batch_id")).as("n"))
        val st = last.agg(count(lit(1)).as("g"), sum(col("n")).as("r")).head()
        import s.implicits._
        Seq(("dropped_groups", dropped),
          ("state_groups", st.getLong(0)), ("state_rows", st.getLong(1)))
          .toDF("metric", "value")
      },
      Some("""WITH b AS (SELECT (CAST(min(epoch_us(ts)) AS BIGINT)
             |                 + CAST(max(epoch_us(ts)) AS BIGINT))//2 AS cut
             |           FROM events),
             |e AS (SELECT date_trunc('hour', ts) AS w, event_type,
             |             CAST(epoch_us(ts) AS BIGINT) AS us
             |      FROM events),
             |keep AS (SELECT * FROM e, b
             |         WHERE us BETWEEN cut - 7200000000 AND cut OR us > cut),
             |stale AS (SELECT * FROM e, b WHERE us <= cut - 10800000000)
             |SELECT 'dropped_groups' AS metric,
             |       (SELECT count(*) FROM (SELECT DISTINCT w, event_type FROM stale)) AS value
             |UNION ALL
             |SELECT 'state_groups',
             |       (SELECT count(*) FROM (SELECT DISTINCT w, event_type FROM keep))
             |UNION ALL
             |SELECT 'state_rows', (SELECT count(*) FROM keep)""".stripMargin)))

  /** The events projection st07/st10 land and stream: ids, type, ts
    * and the value in exact cents. */
  private def eventCents(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.events(s, dir).select(col("event_id"), col("user_id"),
      col("event_type"), col("ts"),
      graft.core.Exprs.cents(col("value")).cast("long").as("value_cents"))

  /** e03's interval join of `ev`'s clicks to its views, over a static
    * or a `readStream` frame of [[eventCents]]: st07 (`inner`) and st10
    * (`left_outer`) stream through it, and their bench twins and
    * codegen probes run it on the static frame. */
  private def ij(joinType: String)(ev: org.apache.spark.sql.DataFrame) = {
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("c_ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts").as("v_ts"), col("value_cents"))
    EventOps.streamIntervalJoin(clicks, views, "user_id", "c_ts", "v_ts",
        interval = "1 HOUR", delay = "2 hours", joinType = joinType)
      .select(col("click_id"), col("user_id"),
        unix_micros(col("c_ts")).as("click_us"),
        col("view_id"), unix_micros(col("v_ts")).as("view_us"),
        col("value_cents"))
  }

  private def ijStatic(joinType: String)(s: org.apache.spark.sql.SparkSession,
      dir: String) = ij(joinType)(eventCents(s, dir))

  /** Bench twins (r15 verdict #6, the n22/n23 precedent applied to
    * the streaming family): st07/st10 book ~2 s of operator work
    * inside ~6 s of AvailableNow lifecycle + checkpoint IO each — a
    * fixed cost a long-running stream amortizes at real scale and
    * which the battery otherwise re-prices every rep. The twins time
    * the interval-join CORE on static frames (withWatermark on a
    * batch frame is optimizer-eliminated, leaving exactly the
    * per-batch join plan); Verify still runs the full streaming
    * lifecycle forms against their oracles. Twin-swapped queries are
    * disclosed in the bench artifact (twin_swapped) so cross-round
    * wall ratios stay apples-to-apples (r15 advice). */
  override def benchPlans
      : Map[String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame] =
    Map(
      "st07_stream_interval_join" -> (ijStatic("inner") _),
      "st10_stream_outer_join" -> (ijStatic("left_outer") _))

  /** Batch-side plans of this set's streaming queries on static frames
    * (CodegenGateSpec probe targets — see QuerySet.stBatchPlans):
    * st05's registered query IS its batch twin (typed funnelBatch);
    * st07/st10 run streamIntervalJoin on static inputs (withWatermark
    * on a batch frame is eliminated by the optimizer, leaving exactly
    * the per-batch join plan); st08 probes the windowed aggregation
    * plus the update-mode read-back (last update per key). */
  override def stBatchPlans
      : Map[String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame] = {
    Map(
      "st05_funnel_stateful" ->
        all.find(_.name == "st05_funnel_stateful").get.fn,
      "st07_stream_interval_join" -> (ijStatic("inner") _),
      "st10_stream_outer_join" -> (ijStatic("left_outer") _),
      "st08_watermark_drop" -> ((s, dir) => {
        val agg = Tables.events(s, dir).select(col("ts"), col("event_type"))
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(unix_millis(col("win.start")).as("w_ms"),
            col("event_type"), col("n"))
          .withColumn("batch_id", lit(0L))
        agg.groupBy(col("w_ms"), col("event_type"))
          .agg(max_by(col("n"), col("batch_id")).as("n"))
      }))
  }
}
