package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{PrefixSum, Ranked}
import graft.text.TextAnalysis

/** Deterministic corpus partitioning for training pipelines: hashed
  * train/val/test splits and token-budget sequence packing. Both are
  * pure integer arithmetic — reproducible across runs, engines, and
  * partitionings, and expressible in ANSI SQL for the oracle gate. */
object Sampling {

  /** Full 32-bit Knuth multiplicative hash of an integral id
    * (id·2654435761 mod 2³²). Plain BIGINT arithmetic — unlike
    * xxhash64, any engine reproduces it exactly, so hash-derived
    * membership/rank is portable, not implementation-defined. Use this
    * directly where rank granularity matters ([[stratifiedSample]]);
    * [[hashBucket]] folds it to [0, 100) for percentage splits.
    *
    * The multiply is done as split 16-bit limbs: a direct
    * `id * 2654435761` overflows Int64 for id ≥ ~3.47e9 (ANSI mode
    * throws, and the DuckDB twin errors at the same ids). With
    * x = id mod 2³² = hi·2¹⁶ + lo,
    * (x·C) mod 2³² = ((hi·C mod 2¹⁶)·2¹⁶ + lo·C) mod 2³², and every
    * intermediate stays below 2⁴⁸ — the whole non-negative int64 id
    * domain is valid. Negative ids are not supported (Spark's pmod
    * and SQL's % disagree on them). */
  def hash32(id: Column): Column = {
    val x = pmod(id.cast("long"), lit(4294967296L))
    val lo = x % lit(65536L)
    val hi = ((x - lo) / lit(65536L)).cast("long")
    pmod((hi * lit(2654435761L)) % lit(65536L) * lit(65536L)
      + lo * lit(2654435761L), lit(4294967296L))
  }

  /** [[hash32]] folded to [0, 100) — the percentage-split bucket. */
  def hashBucket(id: Column): Column = pmod(hash32(id), lit(100L))

  /** The exact SQL twin of [[hash32]] (DuckDB `//` integer division) —
    * oracles must splice THIS or [[hashBucketSql]], never re-derive the
    * formula, so both sides change together. */
  def hash32Sql(c: String): String = {
    val x = s"($c % 4294967296)"
    s"(((($x // 65536) * 2654435761) % 65536) * 65536 + ($x % 65536) * 2654435761) % 4294967296"
  }

  def hashBucketSql(c: String): String = s"(${hash32Sql(c)}) % 100"

  /** Deterministic train/val/test split: `pcts` are cumulative
    * percentage bounds, e.g. Seq(("train", 80), ("val", 90)) with the
    * last split taking the remainder. */
  def split(df: DataFrame, idCol: String,
      pcts: Seq[(String, Int)] = Seq("train" -> 80, "val" -> 90),
      rest: String = "test"): DataFrame =
    df.withColumn("split", splitCol(col(idCol), pcts, rest))

  /** The split membership as a COLUMN of the id — the form a consumer
    * with ids already on its rows uses (e.g. d24 labels both pair
    * endpoints without touching the corpus table). One branch
    * definition shared with [[split]] so the two can't drift. */
  def splitCol(id: Column,
      pcts: Seq[(String, Int)] = Seq("train" -> 80, "val" -> 90),
      rest: String = "test"): Column = {
    val b = hashBucket(id)
    pcts.foldRight(lit(rest)) { case ((name, bound), other) =>
      when(b < bound, lit(name)).otherwise(other)
    }
  }

  /** Deterministic domain-mixture downsampling: keep a row iff its id's
    * hash bucket falls below the domain's keep-rate (percent, 0–100).
    * The standard way to hit per-domain mixture weights in a training
    * corpus without a shuffle or an RNG: pure per-row arithmetic on the
    * same engine-portable [[hashBucket]], so the sampled set is
    * reproducible across runs, engines, and partitionings, and
    * independent draws per domain keep exact expected proportions.
    * Domains absent from `rates` keep `defaultRate`. Rates must be in
    * [0, 100]. Rows with a null id have no hash bucket: they survive
    * only in keep-everything (rate 100) domains and are dropped in
    * thinned ones — a full-keep domain never loses rows. */
  def mixtureSample(df: DataFrame, idCol: String, domainCol: String,
      rates: Map[String, Int], defaultRate: Int = 100): DataFrame = {
    (rates.values.toSeq :+ defaultRate).foreach(r =>
      require(r >= 0 && r <= 100, s"keep-rate $r outside [0, 100]"))
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (k, v)) =>
      when(col(domainCol) === k, lit(v)).otherwise(acc)
    }
    df.filter(rate === 100 || hashBucket(col(idCol)) < rate)
  }

  /** Exact-count stratified sampling: the k rows per stratum whose
    * engine-portable hash ranks lowest — deterministic "take exactly k
    * uniformly per domain", vs [[mixtureSample]]'s per-row coin flip
    * (binomial count). Rank is ([[hash32]], id) ascending — full
    * 32-bit hash granularity (the 100-bucket fold would bias selection
    * toward low ids inside a bucket); the id tiebreak makes it total.
    *
    * Plan: TWO-PHASE exact top-k. Phase 1 ranks within
    * (stratum, hash mod `fanout`) — the corpus's one full shuffle —
    * and keeps ≤ k rows per sub-stratum, so no task ever sorts a
    * whole stratum (a handful of domains over 100 TB would otherwise
    * put terabytes in one task). Phase 2 re-ranks the ≤ k·fanout
    * survivors per stratum in a tiny window; top-k of the union of
    * per-salt top-ks is exactly the global top-k, so the result (and
    * the SQL oracle, which states the global rank directly) is
    * unchanged. Strata with ≤ k rows keep everything. Null-id rows
    * are excluded: they have no portable hash rank (Spark sorts nulls
    * first, SQL engines last — an engine-dependent draw), matching
    * [[mixtureSample]]'s no-bucket-no-survival rule for thinned
    * domains. Negative ids fail LOUDLY ([[hash32]] is undefined on
    * them: Spark's pmod and SQL's % disagree — a silent pass would
    * diverge from the oracle instead of erroring).
    * Returns the input columns plus the stratum rank. */
  def stratifiedSample(df: DataFrame, idCol: String, domainCol: String,
      k: Int, fanout: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"stratifiedSample: k=$k must be positive")
    require(fanout >= 1, s"stratifiedSample: fanout=$fanout must be positive")
    val h = hash32(col(idCol))
    // the salted pre-rank stays a bare int window: ScaleSpec pins its
    // `_salt_rank` bound in the optimized plan, which Ranked.topK's
    // long cast would rename
    val pre = Window.partitionBy(col(domainCol), pmod(h, lit(fanout.toLong)))
      .orderBy(h, col(idCol))
    Ranked.topK(df.filter(col(idCol).isNotNull)
        .filter(coalesce(assert_true(col(idCol) >= 0,
          lit(s"stratifiedSample: negative $idCol unsupported (hash32)")), lit(true)))
        .withColumn("_salt_rank", row_number().over(pre))
        .filter(col("_salt_rank") <= k).drop("_salt_rank"),
      Seq(col(domainCol)), Seq(h, col(idCol)), k, "stratum_rank")
  }

  /** Priority sampling (Duffield, Lund & Thorup, JACM 54(6), 2007): the
    * k highest-priority rows where priority q = w/u with
    * u = (hash32(id)+1)/2³² ∈ (0,1] — a weight-sensitive sample without
    * replacement whose inclusion probability grows with weight (heavy
    * rows are near-certain members; light rows enter ∝ w). The draw
    * comes from the engine-portable [[hash32]], not an RNG, so the
    * sample is reproducible across runs, engines, and partitionings.
    *
    * Engine-portable FP: q is evaluated as (w·2³²)/(h+1) — w·2³² is
    * exact in a double for w < 2²⁰ (loud-guarded) and the single
    * division is IEEE-correctly-rounded, so both engines produce
    * bit-identical doubles; ties break on id (total order).
    *
    * Plan: orderBy+limit compiles to TakeOrderedAndProject — each task
    * keeps a k-row heap and only the heaps merge; the corpus is never
    * globally sorted (ScaleSpec-pinned). Null ids are excluded (no
    * portable draw); negative ids and weights outside [1, 2²⁰) fail
    * LOUDLY — a silent pass would diverge from the SQL twin instead
    * of erroring. */
  def prioritySample(df: DataFrame, idCol: String, weight: Column,
      k: Int, out: String = "priority"): DataFrame = {
    require(k >= 1, s"prioritySample: k=$k must be positive")
    val w = weight.cast("long")
    val q = (w.cast("double") * lit(4294967296.0)) /
      (hash32(col(idCol)) + lit(1L)).cast("double")
    df.filter(col(idCol).isNotNull)
      .filter(coalesce(assert_true(col(idCol) >= 0,
        lit(s"prioritySample: negative $idCol unsupported (hash32)")), lit(true)))
      .filter(coalesce(assert_true(w >= 1 && w < 1048576L,
        lit("prioritySample: weight outside [1, 2^20) — w*2^32 must stay " +
          "exact in a double for the priority to be engine-portable")), lit(true)))
      .withColumn(out, q)
      .orderBy(col(out).desc, col(idCol))
      .limit(k)
  }

  /** Per-domain keep thresholds for [[rebalanceSqrt]]: keep rate
    * r_d = √(n_min/n_d) expressed as the integer cut
    * floor(r_d·2³²) that [[hash32]] draws compare against. Exposed so
    * reports (and the SQL twin) state the thresholds themselves rather
    * than re-deriving the formula. Returns (domain, n_docs,
    * keep_threshold); the smallest domain's threshold is exactly 2³²
    * (keeps everything). */
  def rebalanceThresholds(df: DataFrame, domainCol: String): DataFrame = {
    val counts = df.groupBy(col(domainCol)).agg(count(lit(1)).as("n_docs"))
    val nmin = counts.agg(min(col("n_docs")).as("_nmin"))
    counts.crossJoin(broadcast(nmin))
      .select(col(domainCol), col("n_docs"),
        floor(sqrt(col("_nmin").cast("double") / col("n_docs").cast("double"))
          * 4294967296L).cast("long").as("keep_threshold"))
  }

  /** Temperature-based domain rebalancing (the multilingual-corpus
    * resampling of XLM-R / mC4, exponent pinned at ½): thin each
    * domain toward a flatter mixture by keeping rows with probability
    * √(n_min/n_d) — the smallest domain keeps everything; a domain 4×
    * larger keeps half. The exponent is fixed at one half because sqrt
    * is the one power IEEE requires correctly rounded: n_min/n_d (one
    * division), sqrt, and the 2³² scale (exact — a power of two) are
    * each single correctly-rounded ops, so the [[rebalanceThresholds]]
    * cut is bit-identical on any engine. Membership is
    * hash32(id) < threshold — the same deterministic per-row draw as
    * [[mixtureSample]]. Null-id rows are dropped (no portable draw);
    * negative ids fail loudly; null domains never match the threshold
    * join and are dropped too.
    *
    * Plan: one partial-aggregating count per domain, a one-row min
    * broadcast back over the (tiny) domain table, and one broadcast
    * hash join of thresholds onto the corpus — the corpus itself
    * never shuffles. */
  def rebalanceSqrt(df: DataFrame, idCol: String, domainCol: String): DataFrame = {
    val thr = rebalanceThresholds(df, domainCol)
      .select(col(domainCol), col("keep_threshold"))
    df.filter(col(idCol).isNotNull)
      .filter(coalesce(assert_true(col(idCol) >= 0,
        lit(s"rebalanceSqrt: negative $idCol unsupported (hash32)")), lit(true)))
      .join(broadcast(thr), Seq(domainCol))
      .filter(hash32(col(idCol)) < col("keep_threshold"))
      .drop("keep_threshold")
  }

  /** Deterministic corpus sharding + within-shard training order — the
    * "global shuffle" of a pretraining data pipeline, reproducible
    * across runs, engines, and partitionings: shard = [[hash32]](id)
    * mod `nShards`, and within each shard documents are ordered by
    * (hash, id) — a fixed pseudorandom permutation, so a training job
    * can re-read any shard in the exact order of the original run.
    *
    * Plan (the [[graft.core.DenseId]] shape, NOT a per-shard window —
    * a 100 TB corpus over a few thousand shards would put whole-shard
    * sorts in single tasks): range-repartition on (shard, hash, id),
    * sort within partitions (globally sorted because range partitions
    * are ordered), zipWithIndex for the global rank, then subtract each
    * shard's first rank (shard leads the sort key, so shard positions
    * are the contiguous slice of global ranks — the per-shard offsets
    * are an `nShards`-row broadcast). Positions depend only on the
    * sorted order, not on partition bounds. Null ids are excluded;
    * negative ids fail loudly ([[hash32]] is undefined on them).
    * Returns (id, shard, shard_pos) with shard_pos dense from 0. */
  def shardOrder(df: DataFrame, idCol: String, nShards: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.LongType
    require(nShards >= 1, s"shardOrder: nShards=$nShards must be positive")
    val spark = df.sparkSession
    val n = spark.sessionState.conf.numShufflePartitions
    val h = hash32(col(idCol))
    val keyed = df.filter(col(idCol).isNotNull)
      .filter(coalesce(assert_true(col(idCol) >= 0,
        lit(s"shardOrder: negative $idCol unsupported (hash32)")), lit(true)))
      .select(col(idCol), pmod(h, lit(nShards.toLong)).as("shard"), h.as("_h"))
    val sorted = keyed.repartitionByRange(n, col("shard"), col("_h"), col(idCol))
      .sortWithinPartitions("shard", "_h", idCol)
    val schema = sorted.schema.add("_gidx", LongType, nullable = false)
    val rdd = sorted.rdd.zipWithIndex()
      .map { case (r, i) => Row.fromSeq(r.toSeq :+ i) }
    val g = spark.createDataFrame(rdd, schema)
    val offs = g.groupBy(col("shard")).agg(min(col("_gidx")).as("_off"))
    g.join(broadcast(offs), "shard")
      .select(col(idCol), col("shard"), (col("_gidx") - col("_off")).as("shard_pos"))
  }

  /** Context-window chunking: split each document into overlapping
    * token windows of at most `maxTokens` tokens, consecutive chunks
    * sharing `overlap` tokens (stride = maxTokens − overlap) — the
    * long-document split a pretraining pipeline runs between curation
    * and sequence packing so no text is truncated away. A doc of
    * n ≤ maxTokens tokens is one chunk; otherwise
    * 1 + ceil((n − maxTokens)/stride) chunks with a shorter tail.
    * Chunk text is the whitespace-normalized token slice. Pure per-row
    * explode arithmetic — no shuffle, no window; chunk count and
    * boundaries are exact integer expressions any engine replays.
    * Returns (id, chunk_idx, n_tokens, chunk_text). */
  def chunkDocs(docs: DataFrame, idCol: String, textCol: String,
      maxTokens: Int, overlap: Int): DataFrame = {
    require(maxTokens >= 1 && overlap >= 0 && overlap < maxTokens,
      s"chunkDocs: need 0 <= overlap < maxTokens, got $overlap/$maxTokens")
    val stride = maxTokens - overlap
    val t = TextAnalysis.tokens(col(textCol))
    val n = size(t).cast("long")
    // ceil((n − max)/stride) as exact integer floor arithmetic (Column
    // `/` is double division; the operands stay far below 2^52)
    val nChunks = when(n <= maxTokens, lit(1L))
      .otherwise(floor((n - maxTokens + (stride - 1)) / lit(stride.toDouble)) + 1)
    docs.select(col(idCol), t.as("_t"), n.as("_n"), nChunks.cast("long").as("_nc"))
      .select(col(idCol), col("_t"),
        explode(sequence(lit(0L), col("_nc") - 1)).as("chunk_idx"))
      .select(col(idCol), col("chunk_idx"),
        slice(col("_t"), (col("chunk_idx") * stride + 1).cast("int"),
          lit(maxTokens)).as("_c"))
      .select(col(idCol), col("chunk_idx"),
        size(col("_c")).cast("long").as("n_tokens"),
        concat_ws(" ", col("_c")).as("chunk_text"))
  }

  /** Contiguous token-budget packing: documents in ascending id order
    * are assigned to bins of ~`budget` tokens by their exclusive
    * token-prefix sum (bin = prefix div budget) — the deterministic,
    * shuffle-light packing used to build fixed-length training
    * sequences. Uses the distributed [[PrefixSum]] scan, never a
    * global-order window. */
  def packBins(docs: DataFrame, idCol: String, textCol: String,
      budget: Int): DataFrame = {
    val withTokens = docs.select(col(idCol),
      TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens"))
    PrefixSum.exclusive(withTokens, idCol, "n_tokens")
      .withColumn("bin", floor(col("prefix") / budget.toDouble).cast("long"))
  }
}
