package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.Row

import graft.core.Exprs

/** Structured-Streaming ingestion surface (SURVEY §1.5/§7): the
  * reference's batch-wise survey-area acquisition
  * (SSURGO_BatchDownload.py → MergeDatabases) becomes an incremental
  * file-source stream — each landed drop is a micro-batch; rollups
  * maintain themselves with watermarked windowed aggregation.
  *
  * The transform is shared between the batch and streaming paths
  * (hourlyRollup), so correctness is oracle-checked on the batch twin
  * and the streaming wrapper only adds watermark/window mechanics. */
object Ingest {

  /** Shared transform: hourly per-type rollup (batch twin — used by the
    * driver correctness query; exact-cents so sums are stable). */
  def hourlyRollup(events: DataFrame): DataFrame =
    events.groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(Exprs.cents(col("value"))) / 100.0, 2).as("sum_value"))

  /** Streaming twin: file-source stream over a parquet drop directory,
    * watermarked sliding-window rollup. */
  def streamHourlyRollup(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    graft.Tables.normalizeTs(spark.readStream.schema(schema).parquet(dir))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(Exprs.cents(col("value"))) / 100.0, 2).as("sum_value"))

  /** Batch twin of streaming ingestion dedup: one row per logical
    * event key with the first-arrival time and the duplicate count
    * (at-least-once delivery collapses to exactly-once content).
    * Value participates in the key as exact cents so the group-by is
    * float-safe. */
  def firstArrival(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"), col("event_type"),
        Exprs.cents(col("value")).as("value_cents"))
      .agg(unix_millis(min(col("ts"))).as("first_ms"),
        count(lit(1)).as("n_dups"))

  /** Streaming twin: watermark-bounded stateful dedup over the drop
    * directory — dropDuplicatesWithinWatermark keeps one row per key
    * and EXPIRES key state older than the watermark, so state is
    * bounded by the duplicate-arrival horizon rather than the full
    * history (the property that makes streaming ingestion dedup
    * viable at corpus scale). Emits the surviving keys; which
    * duplicate's payload survives is processing-order-dependent, so
    * the deterministic contract (and the oracle) lives on the batch
    * twin. */
  def streamDedup(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    graft.Tables.normalizeTs(spark.readStream.schema(schema).parquet(dir))
      // dedup on the SAME exact-cents key the batch twin groups by —
      // keying on the raw double would keep two events whose distinct
      // raw values round to the same cents, breaking twin equivalence
      .withColumn("value_cents", Exprs.cents(col("value")))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type", "value_cents")
      .select(col("user_id"), col("event_type"), col("value_cents"))

  /** Drive a streaming DataFrame to a memory sink until all available
    * input is processed; returns the result table name. Test harness
    * for local verification of the streaming path. */
  def runToMemory(sdf: DataFrame, name: String): Unit = {
    val q = sdf.writeStream.outputMode("complete")
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Incremental Valu1 maintenance (SURVEY §1.5, gSSURGO_ValuTable.py
    * run per-SSA): a drop lands change-signal rows tagged by
    * areasymbol; each micro-batch re-derives the Valu1 rows of exactly
    * the touched survey areas from the authoritative tables
    * (`buildFor`, which must emit an areasymbol column) and upserts
    * them into the lake by dynamic partition overwrite.
    *
    * The drop is the change SIGNAL, not the data: the rebuild reads
    * the full per-area inputs, so a survey split across micro-batches
    * re-derives idempotently, and a re-landed survey replaces only its
    * own partition. The touched-area collect is bounded by the
    * surveys-per-drop count (the reference's per-SSA driver loop holds
    * the same list). At 100 TB the per-batch work is proportional to
    * the changed areas, never the whole lake. */
  def refreshValu(spark: SparkSession, dropDir: String, schema: StructType,
      lakeRoot: String, buildFor: Seq[String] => DataFrame): Unit =
    drain(spark, dropDir, schema, s"$lakeRoot/_checkpoints/valu1",
        Trigger.AvailableNow()) { (batch, _) =>
      val areas = batch.select("areasymbol").distinct()
        .collect().map(_.getString(0)).toSeq.sorted
      if (areas.nonEmpty)
        graft.io.Lake.appendSurvey(buildFor(areas), lakeRoot, "valu1")
    }

  /** Streaming index maintenance (the n11 contract as a stream): each
    * micro-batch of arriving rows runs through `encode` — a STATELESS
    * batch transform, e.g. IVF bucket-assign + PQ-encode against
    * frozen broadcast codebooks — and the result is APPENDED to the
    * index directory. Nothing accumulates in streaming state (the
    * index lives in the sink; per-batch work ∝ batch size), and the
    * checkpoint's processed-file log makes each landed FILE
    * exactly-once across restarts and re-triggers. (File-source
    * semantics: exactly-once is per file path — re-landing the same
    * rows under a NEW path appends again; upstream drops are expected
    * to be immutable landed files, the st04 convention.) */
  def encodeAppend(spark: SparkSession, dropDir: String, schema: StructType,
      indexDir: String, encode: DataFrame => DataFrame): Unit =
    drain(spark, dropDir, schema, s"$indexDir/_checkpoints/encode",
        Trigger.AvailableNow()) { (batch, _) =>
      encode(batch).write.mode("append").parquet(s"$indexDir/rows")
    }

  /** Streaming CDC APPLY — the Delta-style streaming MERGE INTO: each
    * micro-batch of change rows (the Cdc.changes shape: key, op, and
    * the old_/new_ value columns) merges into the lake snapshot via
    * Cdc.applyChanges (deletes drop, updates/inserts upsert).
    *
    * Crash safety is copy-on-write: every merged snapshot lands in a
    * FRESH versioned directory (snap_v<batchId>) and only then does
    * the tiny `_latest` pointer flip — the pre-image is never deleted,
    * so a crash mid-write leaves the pointer on the old version and
    * the replayed batch (foreachBatch commits its epoch AFTER the
    * function returns) overwrites the uncommitted version dir
    * idempotently. A crash in the OTHER window — after the pointer
    * flip but before the epoch commit — leaves the pointer already on
    * snap_v<batchId>; the replayed batch detects that (pointer ==
    * this batch's version ⇒ the merge committed) and skips the merge
    * entirely, otherwise it would read currentSnapshot from the very
    * path it is about to overwrite (Spark aborts on
    * read-what-you-overwrite). (An in-place snap overwrite would
    * delete the pre-image before the epoch commits — a crash there
    * loses every untouched row with nothing to replay from.) The
    * pointer file
    * itself is a single tiny create(overwrite) — on an object store
    * or HDFS swap in an atomic-rename committer; the pre-image stays
    * intact either way. Change keys unique per drop make batch splits
    * commute, so AvailableNow splitting a drop reaches the same lake.
    * At a real deployment the sink is an ACID table format whose
    * MERGE is row-granular; the semantics gate (s15's round-trip
    * identity) is the contract here. */
  def streamCdcApply(spark: SparkSession, dropDir: String,
      schema: StructType, lakeDir: String, key: String,
      tracked: Seq[String]): Unit =
    drain(spark, dropDir, schema, s"$lakeDir/_checkpoints/cdc",
        Trigger.AvailableNow()) { (batch, batchId) =>
      val version = s"snap_v$batchId"
      if (pointerVersion(spark, lakeDir) != version) {
        val cur = currentSnapshot(spark, lakeDir)
        val next = graft.io.Cdc.applyChanges(cur, batch, key, tracked)
        next.write.mode("overwrite").parquet(s"$lakeDir/$version")
        writePointer(spark, lakeDir, version)
      } // else: replay of a batch whose merge already committed — skip
    }

  /** Seed the versioned-snapshot lake [[streamCdcApply]] maintains. */
  def initSnapshot(df: DataFrame, lakeDir: String): Unit = {
    df.write.mode("overwrite").parquet(s"$lakeDir/snap_init")
    writePointer(df.sparkSession, lakeDir, "snap_init")
  }

  /** Resolve the lake's current snapshot through the `_latest` pointer. */
  def currentSnapshot(spark: SparkSession, lakeDir: String): DataFrame =
    spark.read.parquet(s"$lakeDir/${pointerVersion(spark, lakeDir)}")

  /** The version name the `_latest` pointer currently holds. */
  private def pointerVersion(spark: SparkSession, lakeDir: String): String = {
    val fs = new org.apache.hadoop.fs.Path(lakeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new org.apache.hadoop.fs.Path(s"$lakeDir/_latest"))
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    finally in.close()
  }

  private def writePointer(spark: SparkSession, lakeDir: String,
      version: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(lakeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$lakeDir/_latest"), true)
    try out.write(version.getBytes("UTF-8")) finally out.close()
  }

  /** Incremental survey ingestion (SURVEY §1.5): each micro-batch of
    * landed rows is upserted into the lake by survey-area partition
    * (foreachBatch + dynamic partition overwrite) — the streaming form
    * of the MergeDatabases append, idempotent per re-landed survey.
    *
    * CONTRACT: a survey's files must land atomically as a complete
    * snapshot (true of WSS drops — one zip = one whole survey): the
    * partition overwrite replaces a survey with whatever the batch
    * holds. Trigger.Once processes everything available as ONE batch so
    * a multi-file survey cannot be split across micro-batches within a
    * run. */
  def streamIntoLake(spark: SparkSession, dropDir: String, schema: StructType,
      lakeRoot: String, table: String): Unit =
    drain(spark, dropDir, schema, s"$lakeRoot/_checkpoints/$table", Trigger.Once()) {
      (batch, _) => graft.io.Lake.appendSurvey(batch, lakeRoot, table)
    }

  /** Run a file-source stream over `dropDir` until `trigger` has
    * processed what is available, handing each micro-batch and its id
    * to `batch`. The checkpoint carries the processed-file log, so a
    * landed drop is picked up exactly once across restarts. */
  private def drain(spark: SparkSession, dropDir: String, schema: StructType,
      checkpoint: String, trigger: Trigger)(batch: (DataFrame, Long) => Unit): Unit =
    spark.readStream.schema(schema).parquet(dropDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: Dataset[Row], id: Long) => batch(b.toDF(), id) }
      .trigger(trigger)
      .start()
      .awaitTermination()
}
