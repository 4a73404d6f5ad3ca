package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Test-table access. The driver's parquet lake (TESTDATA.md) is one file
  * per table; in production this is a partitioned lake, so all reads go
  * through here. */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** In a context whose state has `cacheTables` set ([[Bench.session]]
    * sets it), base tables are cached once per context — the
    * multi-query batch-session pattern the reference itself uses
    * (gSSURGO_CreateSoilMaps loops CreateSoilMap over one database;
    * SURVEY §3 "cache candidate"); [[GraftSession.forget]] unpersists
    * a dir's tables. Off by default: single-query runs and correctness
    * dumps should measure the cold path.
    *
    * Once the cache is filled, its scans are planned as
    * `CachedScanExec` (the session's `PlanCachedScans` rule), not as
    * AQE's per-scan `TableCacheQueryStage`. That stage canonicalizes
    * with its own id, so an exchange above a cached scan never matched
    * an earlier copy of itself and a subplan repeated within one query
    * ran again; over the plain leaf AQE reuses it (val07 at sf0.01: 9
    * jobs a run → 6). The first query over a cache not filled yet still
    * plans the stage, so AQE runs the fill first. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val state = GraftSession.state(spark)
    if (state.cacheTables)
      state.memo(s"table/$name", dir) {
        val raw = spark.read.parquet(s"$dir/$name.parquet")
        // Cache-fill LAYOUT: the test lake ships one row group per
        // table, so the scan - and therefore the cached RDD every query
        // maps over - is a single partition; every first map stage of
        // every query would then run ONE task regardless of cores
        // (StageProbe, r18: p09 spent ~10 s in five serial 2.7-s scans
        // of the cached 600k-row lineitem). So the fill widens the cache
        // to a row-count-derived partition count ONCE, with one exchange
        // paid per session, and makes that exchange a hash on the
        // table's leading column: in every lake table that is its key
        // (l_orderkey, o_orderkey, c_custkey, ...). The cached relation
        // then reports hash partitioning on the key, so an aggregate or
        // join keyed on it, or on a key derived from it by an alias
        // (the SDV analogs' mukey = l_orderkey), reads its input
        // already clustered and plans no exchange of its own: a03 runs
        // as one stage. A round-robin fill costs the same exchange and
        // clusters nothing.
        // 20k rows/partition was swept against 250 and 2000 at sf0.1:
        // finer widths win nothing more on the heavy lineitem scans but
        // tax every small-table stage with per-task overhead (e05
        // 1.72 s at rows/250 vs 0.70 at rows/20k). Scale story: a
        // production lake's scan already yields >= cores splits, so
        // target <= scanParts and this is a no-op - it repairs the
        // small-file/single-row-group case only, and the footer row
        // count is O(KB) metadata.
        val rpp = 20000L
        val target = footerRowCount(spark, s"$dir/$name.parquet")
          .map(r => math.min(spark.sparkContext.defaultParallelism.toLong,
            (r + rpp - 1) / rpp).toInt)
          .getOrElse(1)
        val scanParts = raw.queryExecution.toRdd.getNumPartitions
        (if (target > scanParts) raw.repartition(target, raw.col(raw.columns.head))
         else raw).cache()
      }
    else spark.read.parquet(s"$dir/$name.parquet")
  }

  /** Row count per (vintage dir, table) — the per-vintage corpus-
    * statistics artifact (the reference's `mdstattabs` row-count
    * analog). Adaptive parameters (band bit-widths, centroid counts,
    * layer steps) need only the integer n, and paying a full table
    * scan per QUERY to pick an integer is a 100 TB anti-pattern: the
    * r12 battery ran several full `documents`/`embeddings` passes for
    * exactly this. Resolution order: context memo (dropped by
    * [[GraftSession.forget]], so a vintage dir rewritten in-process
    * re-counts) → parquet FOOTER metadata (row counts live in the
    * footer, so the read is O(KB) regardless of table size — the
    * ingest-time stats table a real lake would carry) → a counted scan
    * only if the footer path fails.
    * Net: zero data-scan count jobs per battery run. */
  def rowCount(spark: SparkSession, dir: String, name: String): Long =
    GraftSession.memo(spark, s"rows/$name", dir) {
      footerRowCount(spark, s"$dir/$name.parquet")
        .getOrElse(load(spark, dir, name).count())
    }

  private def footerRowCount(spark: SparkSession, path: String): Option[Long] =
    try {
      val conf = spark.sessionState.newHadoopConf()
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(conf)
      // A layout this flat listing can't fully account for — a
      // partitioned key=value tree (subdirectories), or a dir with no
      // top-level .parquet at all — must fall back to the counted
      // scan: returning Some(0) here would permanently memoize 0 and
      // silently collapse every adaptive parameter (centroid counts,
      // band bits, layer steps) to its minimum (r13 advice).
      val files =
        if (fs.getFileStatus(p).isDirectory) {
          val listed = fs.listStatus(p).toSeq
          if (listed.exists(_.isDirectory)) None
          else Some(listed.filter(f =>
            f.isFile && f.getPath.getName.endsWith(".parquet")))
            .filter(_.nonEmpty)
        } else Some(Seq(fs.getFileStatus(p)))
      files.map(_.map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromStatus(f, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** events.parquet has shipped `ts` under two physical encodings across
    * testdata generations: TIMESTAMP(NANOS) (arrives as a long of
    * nanoseconds under spark.sql.legacy.parquet.nanosAsLong) and
    * TIMESTAMP(MICROS) (arrives as TIMESTAMP_NTZ, or TIMESTAMP when NTZ
    * inference is off). Dispatch on the loaded dtype so either lake
    * vintage yields the same session-timezone TimestampType column at
    * microsecond precision. Sessions run with UTC timezone, so the
    * NTZ→TZ cast is instant-preserving. */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(load(spark, dir, "events"))

  /** Normalize a `ts` column (batch OR streaming DataFrame) to session
    * TimestampType regardless of the lake vintage it was read from. */
  def normalizeTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    raw.schema("ts").dataType match {
      case LongType      => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => raw
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case other => throw new IllegalStateException(
        s"events.ts: unsupported parquet dtype $other — expected long nanos or timestamp")
    }
  }
}
