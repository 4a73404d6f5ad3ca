package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Ingest

/** The streaming ingestion surface: the watermarked windowed rollup must
  * agree with its batch twin when all input is processed. */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  test("streamIntoLake upserts survey partitions incrementally (foreachBatch)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("mukey", StringType),
      StructField("v", IntegerType), StructField("areasymbol", StringType)))
    val drop = tempDir("graft_drop").toString
    val lake = tempDir("graft_lake_s").toString
    // the file-stream source watches flat files in the drop dir
    def land(rows: Seq[Row], file: String): Unit = {
      val tmp = tempDir("graft_land").toString
      TestSpark.df(schema, rows).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(s"$drop/$file.parquet"))
    }
    // first drop: two surveys
    land(Seq(Row("m1", 1, "NE109"), Row("m2", 1, "IA021")), "d1")
    Ingest.streamIntoLake(spark, drop, schema, lake, "mapunit")
    assert(graft.io.Lake.read(spark, lake, "mapunit").count() === 2)
    // second drop: IA021 re-landed with new content; NE109 untouched
    land(Seq(Row("m2", 99, "IA021")), "d2")
    Ingest.streamIntoLake(spark, drop, schema, lake, "mapunit")
    val got = rowsOf(graft.io.Lake.read(spark, lake, "mapunit").select("mukey", "v"))
    assert(got === Seq(Seq("m1", 1), Seq("m2", 99)))
  }

  test("streamDedup over a parquet drop: surviving key set == batch firstArrival keys") {
    val src = "/root/testdata/sf0.001/events.parquet"
    val dropDir = tempDir("graft_dedup_drop")
    Files.copy(Paths.get(src), dropDir.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)

    val schema = spark.read.parquet(src).schema
    // append mode: dropDuplicatesWithinWatermark emits each surviving
    // key once
    val q = Ingest.streamDedup(spark, dropDir.toString, schema)
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val stream = rowsOf(spark.sql(
      "SELECT user_id, event_type, value_cents FROM dedup_out"))
    val batch = rowsOf(Ingest.firstArrival(Tables.events(spark, "/root/testdata/sf0.001"))
      .select("user_id", "event_type", "value_cents"))
    assert(stream === batch) // one survivor per key, same key set
    assert(stream.nonEmpty)
  }

  test("streamIntervalJoin (stream-stream, watermarked both sides) == batch intervalJoin") {
    import org.apache.spark.sql.functions._
    import graft.events.EventOps
    val src = "/root/testdata/sf0.001/events.parquet"
    val dropDir = tempDir("graft_ij_drop")
    Files.copy(Paths.get(src), dropDir.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val schema = spark.read.parquet(src).schema

    def sides(e: org.apache.spark.sql.DataFrame) = (
      e.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("c_ts")),
      e.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("v_ts")))

    val stream = Tables.normalizeTs(
      spark.readStream.schema(schema).parquet(dropDir.toString))
    val (sc, sv) = sides(stream)
    val q = EventOps.streamIntervalJoin(sc, sv, "user_id", "c_ts", "v_ts",
        interval = "1 HOUR", delay = "2 hours")
      .select(col("click_id"), col("user_id"), col("view_id"))
      .writeStream.outputMode("append").format("memory").queryName("ij_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val (bc, bv) = sides(Tables.events(spark, "/root/testdata/sf0.001"))
    val batch = EventOps.intervalJoin(
        bc.withColumn("c_us", unix_micros(col("c_ts"))).drop("c_ts"),
        bv.withColumn("v_us", unix_micros(col("v_ts"))).drop("v_ts"),
        "user_id", "c_us", "v_us", lookback = 3600000000L)
      .select(col("click_id"), col("user_id"), col("view_id"))
    assert(rowsOf(spark.sql("SELECT * FROM ij_out")) === rowsOf(batch))
    assert(rowsOf(batch).nonEmpty)
  }

  test("st10: left-outer interval join pads unmatched clicks after the sentinel advances the watermark") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.events.EventOps
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("us", LongType)))
    val base = 1700000000000000L
    val drop = tempDir("graft_oj_drop").toString
    val out = tempDir("graft_oj_out").toString
    def land(rows: Seq[Row], f: String): Unit =
      TestSpark.df(schema, rows).coalesce(1).write.mode("append").parquet(drop)
    def run(): Unit = {
      val stream = spark.readStream.schema(
          spark.read.parquet(drop).schema).parquet(drop)
        .withColumn("ts", timestamp_micros(col("us")))
      val clicks = stream.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("c_ts"))
      val views = stream.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("v_ts"))
      val q = EventOps.streamIntervalJoin(clicks, views, "user_id",
          "c_ts", "v_ts", interval = "1 HOUR", delay = "2 hours",
          joinType = "left_outer")
        .select(col("click_id"), col("user_id"), col("view_id"))
        .writeStream.outputMode("append").format("parquet")
        .option("path", s"$out/data")
        .option("checkpointLocation", s"$out/ck")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // wave 1: matched pair (u1) + unmatched click (u2)
    land(Seq(Row(10L, 1L, "view", base),
      Row(11L, 1L, "click", base + 600000000L),
      Row(12L, 2L, "click", base + 600000000L)), "w1")
    run()
    // wave 2: sentinel far-future click AND view (distinct reserved
    // users, so they can't match each other) — the GLOBAL watermark is
    // the min over both sides' watermark nodes, so both must advance
    // past every real click + interval; the no-data batch then
    // flushes u2's null pad
    land(Seq(Row(-1L, -1L, "click", base + 8640000000000L),
      Row(-2L, -2L, "view", base + 8640000000000L)), "w2")
    run()
    val got = rowsOf(spark.read.parquet(s"$out/data")
      .filter(col("user_id") >= 0L).orderBy("click_id"))
    assert(got === Seq(Seq(11L, 1L, 10L), Seq(12L, 2L, null)))
  }

  test("full-outer interval join: unmatched rows on EITHER side pad with THEIR OWN key (never a null key)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.events.EventOps
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("us", LongType)))
    val base = 1700000000000000L
    val drop = tempDir("graft_foj_drop").toString
    val out = tempDir("graft_foj_out").toString
    def land(rows: Seq[Row]): Unit =
      TestSpark.df(schema, rows).coalesce(1).write.mode("append").parquet(drop)
    def run(): Unit = {
      val stream = spark.readStream.schema(
          spark.read.parquet(drop).schema).parquet(drop)
        .withColumn("ts", timestamp_micros(col("us")))
      val clicks = stream.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("c_ts"))
      val views = stream.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("v_ts"))
      val q = EventOps.streamIntervalJoin(clicks, views, "user_id",
          "c_ts", "v_ts", interval = "1 HOUR", delay = "2 hours",
          joinType = "full_outer")
        .select(col("click_id"), col("user_id"), col("view_id"))
        .writeStream.outputMode("append").format("parquet")
        .option("path", s"$out/data")
        .option("checkpointLocation", s"$out/ck")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // wave 1: matched pair (u1), unmatched click (u2), unmatched view
    // (u3 — the mirrored pad the r9 advice flagged: with the bare left
    // key it emitted a NULL key and dropped u3 entirely)
    land(Seq(Row(10L, 1L, "view", base),
      Row(11L, 1L, "click", base + 600000000L),
      Row(12L, 2L, "click", base + 600000000L),
      Row(13L, 3L, "view", base + 600000000L)))
    run()
    // wave 2: sentinel click AND view advance both sides' watermarks
    // (the global watermark is their min) past every real row+interval
    land(Seq(Row(-1L, -1L, "click", base + 8640000000000L),
      Row(-2L, -2L, "view", base + 8640000000000L)))
    run()
    val got = rowsOf(spark.read.parquet(s"$out/data")
      .filter(col("user_id") >= 0L))
    assert(got === Seq(Seq(11L, 1L, 10L), Seq(12L, 2L, null), Seq(null, 3L, 13L)))
  }

  test("streamHourlyRollup over a parquet drop == batch hourlyRollup") {
    val src = "/root/testdata/sf0.001/events.parquet"
    val dropDir = tempDir("graft_stream_drop")
    Files.copy(Paths.get(src), dropDir.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)

    val schema = spark.read.parquet(src).schema
    val sdf = Ingest.streamHourlyRollup(spark, dropDir.toString, schema)
    Ingest.runToMemory(sdf, "hourly_out")

    val stream = spark.sql(
      """SELECT win.start AS hour, event_type, n_events, sum_value
        |FROM hourly_out""".stripMargin)
    val batch = Ingest.hourlyRollup(Tables.events(spark, "/root/testdata/sf0.001"))

    assert(rowsOf(stream) === rowsOf(batch))
    assert(stream.count() > 0)
  }

  /** Drive a funnel definition through two event-time waves sharing ONE
    * checkpoint (run 2 resumes the file log AND the state store, so
    * wave-2 events fold into wave-1 stage times — the incremental-state
    * demonstration), and pin stream == batch. Arity-generic: works for
    * any step set. */
  private def funnelWaveCheck(funnel: graft.streaming.FunnelStream.Funnel): Unit = {
    import org.apache.spark.sql.functions._
    import graft.streaming.FunnelStream
    val sf = "/root/testdata/sf0.001"
    val events = Tables.events(spark, sf).select(col("user_id"),
        unix_millis(col("ts")).as("ts_ms"), col("event_type"),
        graft.core.Exprs.cents(col("value")).cast("long").as("value_cents"))
    // two event-time-ordered waves (the repo's streaming-drop
    // convention): a mid-range split timestamp
    val cut = events.agg(
      percentile_approx(col("ts_ms"), lit(0.5), lit(100))).head().getLong(0)
    val dropDir = tempDir("graft_funnel_drop")
    // checkpoint OUTSIDE the source glob — dropDir/* must see only waves
    val ckptDir = tempDir("graft_funnel_ckpt")
    events.filter(col("ts_ms") <= cut).coalesce(1)
      .write.parquet(dropDir.resolve("w1").toString)

    import spark.implicits._
    val stream = spark.readStream
      .schema(events.schema).option("maxFilesPerTrigger", "1")
      .parquet(dropDir.toString + "/*")
      .as[FunnelStream.FEvent]
    // The memory sink cannot recover from a checkpoint, so updates
    // collect through foreachBatch (st04's pattern).
    val updates = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Seq[Option[Long]], Long)]
    def run(): Unit = {
      val q = funnel.funnelStream(stream)
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckptDir.toString)
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[FunnelStream.StageTimes], _: Long) =>
            updates.synchronized {
              updates ++= b.collect().map(r =>
                (r.user_id, r.times, r.stages_reached))
            }
            ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    run()
    events.filter(col("ts_ms") > cut).coalesce(1)
      .write.parquet(dropDir.resolve("w2").toString)
    run()
    // latest update per user = the row with max stages_reached (stage
    // times never regress; equal-stage rows are identical)
    val latest = updates.groupBy(_._1).values
      .map(_.maxBy(_._3)).toSeq.sortBy(_._1)
    val batch = funnel.funnelBatch(events.as[FunnelStream.FEvent])
      .collect().map(r => (r.user_id, r.times, r.stages_reached))
      .toSeq.sortBy(_._1)
    assert(latest === batch)
    assert(batch.nonEmpty)
    assert(batch.head._2.size === funnel.steps.size)
  }

  test("st05: stateful streaming funnel == batch fold across event-time waves") {
    funnelWaveCheck(graft.streaming.FunnelStream.e05)
  }

  test("st05: a DIFFERENT step set (2-stage big-purchase) through one checkpoint") {
    funnelWaveCheck(graft.streaming.FunnelStream.bigPurchase)
  }

  test("e11 streaming twin: watermarked session_window over a drop == batch sessions") {
    import org.apache.spark.sql.functions._
    val src = "/root/testdata/sf0.001/events.parquet"
    val dropDir = tempDir("graft_sw_drop")
    Files.copy(Paths.get(src), dropDir.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val schema = spark.read.parquet(src).schema

    def sessions(e: org.apache.spark.sql.DataFrame) = e
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), unix_millis(col("sw.start")).as("start_ms"),
        unix_millis(col("sw.end")).as("end_ms"), col("n_events"))

    // the SAME transform compiles as a streaming query: session_window
    // is the declarative gap-session operator in both engines — the
    // watermark only bounds state retention, and with all input in one
    // AvailableNow drain no session is dropped as late
    val sdf = sessions(Tables.normalizeTs(
        spark.readStream.schema(schema).parquet(dropDir.toString))
      .withWatermark("ts", "1 hour"))
    val q = sdf.writeStream.outputMode("complete")
      .format("memory").queryName("sw_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val stream = rowsOf(spark.sql(
      "SELECT user_id, start_ms, end_ms, n_events FROM sw_out"))
    val batch = rowsOf(sessions(Tables.events(spark, "/root/testdata/sf0.001")))
    assert(stream === batch)
    assert(stream.nonEmpty)
  }

  test("st08: a checkpoint-restored watermark drops late rows, exactly counted") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val events = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("event_type"))
    val Row2 = events.agg(
      percentile_approx(unix_micros(col("ts")), lit(0.5), lit(100))).head()
    val cutUs = Row2.getLong(0)
    val hourUs = 3600L * 1000 * 1000
    // wave 1 establishes watermark ≈ cut − 1h (the rollup's delay);
    // wave 2 lands rows far BELOW it (≤ cut − 3h — never seen before:
    // wave 1 starts above that) plus fresh rows beyond the cut
    val wave1 = events.filter(unix_micros(col("ts")).between(cutUs - 2 * hourUs, cutUs))
    val stale = events.filter(unix_micros(col("ts")) <= cutUs - 3 * hourUs)
    val fresh = events.filter(unix_micros(col("ts")) > cutUs)
    // numRowsDroppedByWatermark counts rows arriving at the STATE
    // operator — i.e. AFTER map-side partial aggregation — so the
    // expected count is the stale (window, type) GROUP count, not the
    // stale event count (probed: 492 events → 423 dropped group rows)
    val staleGroups = stale
      .select(date_trunc("hour", col("ts")).as("w"), col("event_type"))
      .distinct().count()
    assert(staleGroups > 0, "fixture must have genuinely late rows")

    val dropDir = tempDir("graft_late_drop")
    val ckpt = tempDir("graft_late_ckpt")
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit =
      df.coalesce(1).write.parquet(dropDir.resolve(name).toString)
    land(wave1, "w1")

    val schema = spark.read.parquet(dropDir.resolve("w1").toString).schema
    def run(): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
      val sdf = spark.readStream.schema(schema).parquet(dropDir.toString + "/*")
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val q = sdf.writeStream.outputMode("update")
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.count(); () // evaluate every partition so state stores commit
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.recentProgress.toSeq
    }
    val p1 = run()
    assert(p1.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum === 0L)
    land(stale, "w2stale")
    land(fresh, "w2fresh")
    val p2 = run()
    // run 2 restores the checkpointed watermark, so every stale group —
    // 2h+ older than it — is dropped, and the drop is OBSERVABLE: the
    // silent-late-data failure mode surfaces as an exact metric
    assert(p2.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum === staleGroups)
  }

  test("st04: incremental per-SSA Valu refresh == batch Valu build") {
    val sf = "/root/testdata/sf0.001"
    val inc = SparkEntry.queries("st04_valu_incremental")(spark, sf)
    val batch = SparkEntry.queries("v14_valu_wide")(spark, sf)
    // key-set equivalence plus full-row equality: the analog's integral
    // doubles make per-area and whole-data aggregation bit-identical
    assert(inc.count() === batch.count())
    assert(inc.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(inc).count() === 0)
  }
}
