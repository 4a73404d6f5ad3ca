package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Materialize

import graft.ann.Vectors
import graft.text.TextAnalysis

/** Deduplication operators for large-scale training-data pipelines
  * (builder mandate): exact, MinHash+LSH, SimHash, n-gram Jaccard, and
  * embedding-cosine near-dup.
  *
  * Scale notes: the LSH variants (minhashLshPairs, simhashPairs) are the
  * 100 TB path — candidate generation is an equi-join on small band
  * keys, so the shuffle carries (doc, band) rows, never the cross
  * product. The exact-Jaccard self-join (ngramJaccardPairs) is the
  * verification/oracle path and should be run on bounded slices. */
object Dedup {

  /** Exact dedup by content hash: one row per distinct content, with
    * the surviving (minimum) id and the duplicate count. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_id"))

  /** Distinct word n-gram shingles of a token array (docs shorter than
    * n collapse to a single whole-doc shingle). */
  def wordShingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
      .otherwise(array(concat_ws(" ", toks)))

  /** Exploded distinct shingle rows (did, s) — window-lead construction
    * (posexplode → lead(n-1)) instead of per-index array slicing:
    * measured ~5× cheaper, no per-shingle array allocation, and the
    * did-partitioned sort feeds the downstream groupBy(did) without a
    * second exchange. Docs shorter than n contribute their whole text
    * as one shingle (parity with wordShingles). */
  def shingleRows(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    shingleRowsAll(docs, idCol, textCol, n).distinct()

  /** [[shingleRows]] WITHOUT the distinct — the shared construction.
    * Consumers that only need shingle-set digests should distinct at
    * the digest level ([[shingleDigests]]): the dedup exchange then
    * carries 8-byte longs instead of multi-word shingle strings. */
  private def shingleRowsAll(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs.select(col(idCol).as("did"),
      posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("pos", "t")))
    val w = Window.partitionBy("did").orderBy("pos")
    val parts = col("t") +: (1 until n).map(i => lead("t", i).over(w))
    val last = if (n > 1) lead("t", n - 1).over(w) else col("t")
    val long = tok.select(col("did"), concat_ws(" ", parts: _*).as("s"), last.as("__l"))
      .filter(col("__l").isNotNull).select("did", "s")
    val short = docs.select(col(idCol).as("did"),
        TextAnalysis.tokens(col(textCol)).as("__tk"))
      .filter(size(col("__tk")) < n)
      .select(col("did"), concat_ws(" ", col("__tk")).as("s"))
    long.unionByName(short)
  }

  /** Distinct 64-bit shingle digests (did, h) — the form every hashing
    * consumer (minhash signatures, Jaccard verification) actually
    * needs. Distinct-ing AFTER the digest means the dedup shuffle
    * moves 8-byte longs, not shingle strings. Set cardinality equals
    * the string-level distinct barring an in-doc xxhash64 collision
    * (~|S|²/2⁶⁴ — negligible, deterministic for fixed inputs; the
    * same caveat verifyJaccard has always documented). */
  def shingleDigests(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    shingleRowsAll(docs, idCol, textCol, n)
      .select(col("did"), xxhash64(col("s")).as("h")).distinct()

  /** Row-local distinct shingle digests of a text column — the
    * STREAMING-SAFE form of [[shingleDigests]] (an array per row, no
    * explode/groupBy, so it evaluates inside an append-mode stream with
    * no state): array_distinct(xxhash64(shingle)) over
    * [[wordShingles]]. Digest-set equality with shingleDigests holds
    * by construction (same tokenizer, same n-gram set, same digest,
    * distinct at the digest level both ways).
    *
    * Cost boundary (with [[signatureColumn]]/[[bandKeysColumn]]):
    * higher-order-function lambdas are interpreted, so the row-local
    * signature chain measured 4.2 s where the codegen'd batch
    * machinery ([[shingleDigests]] → laneSignature) did the same wave
    * in 0.95 s at sf0.1. Use the row-local form where batching is
    * impossible (per-event admission, a continuous low-latency sink);
    * micro-batched ingest should run the batch machinery per batch in
    * foreachBatch — the st11 shape. TrainOpsSpec gates that both
    * forms emit identical (band, bkey) rows. */
  def shingleDigestsColumn(text: Column, shingleN: Int): Column =
    array_distinct(transform(
      wordShingles(TextAnalysis.tokens(text), shingleN), s => xxhash64(s)))

  /** k-lane MinHash signature over a row-local digest array — lane i =
    * array_min(xxhash64(i, digest)), REPLICATING [[laneSignature]]'s
    * lane definition exactly (INT literal seed, LONG digest — xxhash64
    * hashes by input type, so the seed must stay IntegerType for the
    * lanes to be band-compatible). A column expression cannot call the
    * DataFrame helper; TrainOpsSpec gates that the two forms emit
    * identical band rows. Over a shingle array, pass
    * `transform(shingles, xxhash64)` as `digests`. */
  def signatureColumn(digests: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(digests, h => xxhash64(i, h))))

  /** Row-local band keys over a [[signatureColumn]] signature — the
    * streaming twin of [[minhashBanded]]'s (band, bkey) construction
    * (same per-band lane slices, same variadic xxhash64 over LONG
    * lanes), as an array of structs ready to explode. A row hashed
    * here joins the persisted minhashBanded index directly — the
    * arriving-document admission path, where the corpus is only ever
    * touched through its index. */
  def bandKeysColumn(sig: Column, k: Int, bands: Int): Column = {
    require(k % bands == 0, "k must divide into bands")
    val rows = k / bands
    array((0 until bands).map(b =>
      struct(lit(b).as("band"),
        xxhash64((b * rows until (b + 1) * rows)
          .map(i => element_at(sig, i + 1)): _*).as("bkey"))): _*)
  }

  /** MinHash + LSH near-dup pairs: signature → band keys → equi-join on
    * (band, bandkey) for candidates → exact Jaccard verification →
    * threshold filter. Returns (id_a, id_b, jaccard).
    *
    * Physical shape: shingles are exploded ONCE and the k minhash lanes
    * are k min() aggregates in a single hash aggregation (no nested
    * array re-traversal); band keys are xxhash64 over the lane columns.
    * Defaults k=32/bands=8 → r=4 rows per band: s-curve midpoint
    * (1/b)^(1/r) ≈ 0.595, so pairs at jaccard ≥ ~0.77 (the observed
    * floor of true pairs on the test corpora) miss a band 8-in-1000
    * per band⁴ → all-bands ~4e-4 — r=8's midpoint 0.84 left ~0.89
    * pairs with a 14% miss chance and the oracle gate green by luck.
    * The r=4 false-candidate rate ~p⁴ per band needs shingleN ≥ 3:
    * common word BIGRAMS are so shared that whole buckets collide and
    * the candidate join goes quadratic (measured; see the pitfalls
    * note in the repo docs). Lower `threshold` only widens the final
    * filter, not the banding recall — LSH recall is probabilistic in
    * general; the oracle-exactness claim is verified per-corpus. */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 32, bands: Int = 8, shingleN: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val banded = minhashBanded(docs, idCol, textCol, k, bands, shingleN)
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.did") < col("b.did"))
      .select(col("a.did").as("id_a"), col("b.did").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // bounded candidate set, checkpointed once — verifyJaccard embeds
    // its candidate argument three times (id semi-join inside both
    // shingle-union branches + the pair join) and each copy would
    // re-inline the whole banding lineage (see the incremental form's
    // measurement: ~7× CPU from plan replication alone). EAGER (r18):
    // the three consumers' stages run concurrently and raced a lazy
    // fill, re-running the banding pipeline anyway.
    verifyJaccard(docs,
      Materialize.checkpoint(cand, eager = true),
      idCol, textCol, shingleN, threshold)
  }

  /** The k-lane signature over 64-bit shingle digests (did, h) — one
    * row per did with lane columns mh0..mh{k-1}, lane i =
    * min(xxhash64(i, digest)). This is THE lane definition: banding
    * ([[minhashBanded]]) and calibration ([[minhashJaccardEstimate]])
    * must stay lane-identical for their signatures to be comparable,
    * so both CALL here; [[signatureColumn]] is the row-local form of
    * the same lanes. */
  private def laneSignature(hashed: DataFrame, k: Int): DataFrame = {
    val lanes = (0 until k).map(i => min(xxhash64(lit(i), col("h"))).as(s"mh$i"))
    hashed.groupBy(col("did")).agg(lanes.head, lanes.tail: _*)
  }

  /** Distinct doc ids participating in a (id_a, id_b) pair set — the
    * semi-join key that pushes candidate filtering ahead of any
    * per-doc shingle/signature work. */
  private def pairDocIds(pairs: DataFrame): DataFrame =
    pairs.select(explode(array(col("id_a"), col("id_b"))).as("cid")).distinct()

  /** Banded MinHash index rows (did, band, bkey) — the persistable
    * dedup-index artifact: at corpus scale this is what lives in the
    * lake (bucketed by bkey), so arriving batches join against it
    * without re-signaturing the corpus. Shingles are exploded ONCE and
    * the k lanes ([[laneSignature]]) are k min() aggregates in one
    * hash aggregation; each (long) shingle string is hashed once and
    * the permutation lanes re-hash the 8-byte digest, halving the
    * hash cost. */
  def minhashBanded(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 32, bands: Int = 8, shingleN: Int = 3): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val rows = k / bands
    val sig = laneSignature(
      shingleDigests(docs, idCol, textCol, shingleN), k)
    sig.select(col("did"), explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          xxhash64((b * rows until (b + 1) * rows).map(i => col(s"mh$i")): _*).as("bkey"))): _*))
        .as("bb"))
      .select(col("did"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
  }

  /** Incremental near-dup pairs: every pair involving at least one doc
    * of the arriving `newDocs` batch — new×corpus and new×new, never
    * corpus×corpus. This is the production ingestion shape: the corpus
    * is represented ONLY by its banded signature index (re-derived
    * here; persisted via minhashBanded in a real pipeline), the batch
    * probes it with an equi-join, and the whole history is never
    * re-paired. Ids must be disjoint across the two inputs; output is
    * oriented id_a < id_b with exact verified jaccard. */
  def minhashLshPairsIncremental(newDocs: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, k: Int = 32, bands: Int = 8,
      shingleN: Int = 3, threshold: Double = 0.5): DataFrame = {
    val all = newDocs.unionByName(corpus)
    // ONE signature pass over the union; the probe side is carved out
    // with a broadcast semi-join on the (small) batch ids. Both sides
    // of the candidate join then share an identical signature subplan,
    // so ReuseExchange computes it once — signaturing new and corpus
    // separately was measured ~2× slower. (With a persisted
    // minhashBanded index the corpus side is a plain scan instead.)
    val bAll = minhashBanded(all, idCol, textCol, k, bands, shingleN)
    val newIds = newDocs.select(col(idCol).as("did"))
    val bNew = bAll.join(broadcast(newIds), Seq("did"), "left_semi")
    val cand = bNew.as("a").join(bAll.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.did") =!= col("b.did"))
      .select(least(col("a.did"), col("b.did")).as("id_a"),
        greatest(col("a.did"), col("b.did")).as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // the candidate frame is consumed THREE times by verifyJaccard
    // (its id semi-join lands inside BOTH branches of the shingle
    // union, plus the pair join itself) and each reference re-inlines
    // the whole banding lineage — measured at sf0.1: an ~840-node
    // physical plan with 214 scan copies that runtime exchange reuse
    // only partially collapses (the cidsOf compute-once lesson, r16
    // verdict). Checkpointing the BOUNDED candidate pair set (ids
    // only, banding-bounded — orders below the corpus at any scale)
    // cuts the verify side to a leaf probe.
    verifyJaccard(all,
      Materialize.checkpoint(cand, eager = false),
      idCol, textCol, shingleN, threshold)
  }

  /** MinHash Jaccard ESTIMATE beside the exact value, per already-
    * verified pair — the calibration table an LSH deployment reads
    * before choosing k/bands/threshold for a new corpus (the estimate,
    * not the exact value, is what banding decisions see at 100 TB;
    * knowing its realized error on a verified sample is how the
    * s-curve parameters get picked). Signatures are computed only for
    * pair-participating docs (the verifyJaccard semi-join shape); the
    * estimate is the matching-lane fraction of a k-lane signature over
    * the same shingle digests the exact value uses. Emits
    * `est_within` = |estimate − jaccard| ≤ `bound` rather than the
    * raw estimate: the lanes are seeded-xxhash64 minima no portable
    * SQL replays, but the BOUND is checkable — the default 0.2 at
    * k=128 is ≥ 4.5σ across the whole admitted jaccard range (σ peaks
    * at √(0.25/128) ≈ 0.044 at j=0.5; a 0.15 bound was only 3.4σ
    * there, and the per-pair breach chance compounds with pair count
    * at larger corpora); deterministic for fixed inputs, verified per
    * gated corpus. Lanes come from [[laneSignature]] — the identical
    * lane definition d02's banding uses, which is the point of the
    * calibration. */
  def minhashJaccardEstimate(docs: DataFrame, pairs: DataFrame,
      idCol: String, textCol: String, k: Int = 128, shingleN: Int = 3,
      bound: Double = 0.2): DataFrame = {
    val hashed = shingleDigests(
      docs.join(pairDocIds(pairs), col(idCol) === col("cid"), "left_semi"),
      idCol, textCol, shingleN)
    val sig = laneSignature(hashed, k)
      .select(col("did"), array((0 until k).map(i => col(s"mh$i")): _*).as("sig"))
    val matches = size(filter(zip_with(col("sa"), col("sb"), (x, y) => x === y),
      b => b))
    pairs
      .join(sig.select(col("did").as("id_a"), col("sig").as("sa")), "id_a")
      .join(sig.select(col("did").as("id_b"), col("sig").as("sb")), "id_b")
      .select(col("id_a"), col("id_b"), col("jaccard"),
        (abs(matches.cast("double") / k - col("jaccard")) <= bound)
          .as("est_within"))
  }

  /** Exact n-gram-Jaccard verification of a candidate pair set:
    * shingle sets are re-derived ONLY for candidate docs (the
    * semi-join pushes the candidate filter before the tokenize/shingle
    * work — the candidate set is tiny vs the corpus). Shared by every
    * LSH front-end (minhash, simhash); because the verification is
    * exact, any front-end with complete recall over the ≥ threshold
    * pairs produces the same answer as the all-pairs oracle. */
  def verifyJaccard(docs: DataFrame, cand: DataFrame, idCol: String,
      textCol: String, shingleN: Int, threshold: Double): DataFrame = {
    val candIds = pairDocIds(cand)
    // intersect 64-bit shingle digests, not strings: ~8× less data
    // through the pair joins and cheap long-array intersects. Set
    // cardinalities are unchanged barring an xxhash64 collision
    // within a doc pair's shingle sets (~|S|²/2⁶⁴ — negligible, and
    // deterministic for fixed inputs, so it cannot flake a gate).
    val shArr = shingleDigests(
        docs.join(candIds, col(idCol) === col("cid"), "left_semi"),
        idCol, textCol, shingleN)
      .groupBy(col("did")).agg(collect_list(col("h")).as("sh"))
    val pairs = cand
      .join(shArr.select(col("did").as("id_a"), col("sh").as("sha")), "id_a")
      .join(shArr.select(col("did").as("id_b"), col("sh").as("shb")), "id_b")
    val common = size(array_intersect(col("sha"), col("shb"))).cast("double")
    // threshold on the UNROUNDED ratio (matching ngramJaccardPairs and
    // the SQL oracles); rounding first would admit boundary pairs in
    // [threshold - 5e-5, threshold) that the exact twin excludes
    pairs
      .filter(common / (size(col("sha")) + size(col("shb")) - common) >= threshold)
      .select(col("id_a"), col("id_b"),
        graft.core.Exprs.roundHalfUp(
          common / (size(col("sha")) + size(col("shb")) - common), 4).as("jaccard"))
  }

  /** Paragraph rows (did, para_idx, ptext): documents split on
    * blank-line boundaries, empty paragraphs dropped — the passage
    * granularity that document-level dedup misses (boilerplate
    * paragraphs shared across otherwise-unrelated docs). */
  def paragraphs(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("did"),
        posexplode(split(col(textCol), "\n\n")).as(Seq("para_idx", "ptext")))
      .filter(trim(col("ptext")) =!= "")

  /** Packed paragraph/line identity did·1000+para_idx with a loud
    * guard at 1000 — the ONE definition every passage-granularity op
    * packs (and its oracles unpack) with. */
  private def packedPid(caller: String): Column =
    col("did").cast("long") * 1000 + col("para_idx") +
      coalesce(assert_true(col("para_idx") < 1000,
        lit(s"$caller: >1000 paragraphs in one doc — widen the packing"))
        .cast("long"), lit(0L))

  /** Per-doc rollup of flagged line rows (did, ptext, keep):
    * (did, n_lines, n_removed, n_kept_tokens) — shared by the full and
    * incremental line-dedup passes so the pinned incremental == full
    * equivalence can't drift. */
  private def lineStatsAgg(lines: DataFrame): DataFrame =
    lines.groupBy(col("did")).agg(
      count(lit(1)).as("n_lines"),
      sum(when(!col("keep"), 1L).otherwise(0L)).as("n_removed"),
      sum(when(col("keep"), TextAnalysis.tokenCount(col("ptext")).cast("long"))
        .otherwise(0L)).as("n_kept_tokens"))

  /** Paragraph-level MinHash+LSH near-dup pairs — the whole doc-level
    * banding/verification machinery reused at passage granularity.
    * Paragraph identity is packed did·1000+idx (loud guard at 1000
    * paragraphs/doc) so minhash/verify run unchanged on one long key;
    * the output unpacks to (doc_a, para_a, doc_b, para_b, jaccard).
    *
    * Defaults differ from the doc-level ones deliberately: paragraphs
    * are short, so true pairs sit closer to the threshold and per-pair
    * minhash variance is higher — r=2 rows × 32 bands keeps the miss
    * probability below 1e-6 for a pair AT a 0.6 threshold ((1−0.6²)³²),
    * where the doc-level r=4 × 8 would miss it 60% of the time. The
    * false-candidate cost of r=2 stays bounded because 3-gram shingles
    * are high-diversity (the quadratic-bucket failure was a property of
    * 2-gram SHINGLES, not of short bands). */
  def paragraphMinhashPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 64, bands: Int = 32, shingleN: Int = 3,
      threshold: Double = 0.6): DataFrame = {
    val packed = paragraphs(docs, idCol, textCol).select(
      packedPid("paragraphMinhashPairs").as("pid"), col("ptext"))
    minhashLshPairs(packed, "pid", "ptext", k, bands, shingleN, threshold)
      .select(expr("id_a div 1000").as("doc_a"), (col("id_a") % 1000).as("para_a"),
        expr("id_b div 1000").as("doc_b"), (col("id_b") % 1000).as("para_b"),
        col("jaccard"))
  }

  /** Per-document contamination summary over [[paragraphMinhashPairs]]:
    * how many of a doc's paragraphs appear in ANY near-dup pair, and
    * the contaminated fraction — the signal a curation pipeline
    * thresholds on to drop boilerplate-heavy docs. */
  def paragraphDupStats(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 64, bands: Int = 32, shingleN: Int = 3,
      threshold: Double = 0.6): DataFrame =
    paragraphDupStatsFromPairs(docs,
      paragraphMinhashPairs(docs, idCol, textCol, k, bands, shingleN, threshold),
      idCol, textCol)

  /** [[paragraphDupStats]] over an ALREADY-DERIVED pair set — the form
    * a pipeline with a persisted paragraph-pair landing uses (deriving
    * the LSH pairs is the dominant cost; the rollup is two small
    * aggregations). `pairs` must be the (doc_a, para_a, doc_b, para_b,
    * jaccard) output of [[paragraphMinhashPairs]] on the same docs. */
  def paragraphDupStatsFromPairs(docs: DataFrame, pairs: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    // both endpoints via ONE explode — a union of two selects over
    // `pairs` would evaluate the whole shingle→minhash→verify subplan
    // twice (the d03 double-eval pitfall)
    val contam = pairs.select(explode(array(
        struct(col("doc_a").as("did"), col("para_a").as("para_idx")),
        struct(col("doc_b").as("did"), col("para_b").as("para_idx")))).as("e"))
      .select(col("e.did").as("did"), col("e.para_idx").as("para_idx"))
      .distinct()
      .groupBy(col("did")).agg(count(lit(1)).as("n_dup_paras"))
    paragraphs(docs, idCol, textCol)
      .groupBy(col("did")).agg(count(lit(1)).as("n_paras"))
      .join(contam, Seq("did"), "left")
      .select(col("did"), col("n_paras"),
        coalesce(col("n_dup_paras"), lit(0L)).as("n_dup_paras"),
        graft.core.Exprs.roundHalfUp(
          coalesce(col("n_dup_paras"), lit(0L)).cast("double") / col("n_paras"), 4)
          .as("dup_para_frac"))
  }

  /** Corpus-global EXACT line dedup with first-occurrence retention —
    * the C4-style pass that removes every repeat of a line (paragraph)
    * already seen earlier in the corpus, keeping only its first
    * occurrence in (doc id, line index) order. This is the complement
    * of [[paragraphMinhashPairs]]: NEAR-dup passages need banding, but
    * verbatim boilerplate (headers, license blocks, navigation chrome)
    * is exact and is removed by identity, corpus-wide, in one pass.
    *
    * Plan: one shuffle, partitioned by (64-bit line hash, line text) —
    * a window whose partitions are single-line groups, so it is as
    * fine-grained (scale-safe) as a per-doc window; the hash leads the
    * key so ordinary-line groups spread uniformly, and the full text in
    * the key means a hash collision cannot merge two distinct lines.
    * `min` over the packed (doc·1000+idx) id marks the keeper — no
    * join-back, no global ordering. Per-doc stats aggregate in a second
    * (partial-aggregating) shuffle on doc id.
    * Returns (did, n_lines, n_removed, n_kept_tokens). */
  def lineDedupStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lines = paragraphs(docs, idCol, textCol).select(
      col("did"), col("ptext"), packedPid("lineDedupStats").as("pid"))
    val w = Window.partitionBy(xxhash64(col("ptext")), col("ptext"))
    lineStatsAgg(lines
      .withColumn("keep", col("pid") === min(col("pid")).over(w)))
  }

  /** Incremental [[lineDedupStats]]: per-doc stats for the ARRIVING
    * batch only — a batch line is removed iff its text already exists
    * in the corpus (any doc) or earlier within the batch itself. The
    * corpus participates ONLY as its DISTINCT (line hash, line text)
    * set — the persistable index artifact (bucketed by hash in a real
    * lake), probed by one equi-join; corpus docs are never re-counted
    * and corpus volume never flows through the batch window. Ids must
    * be disjoint across the two inputs.
    * Returns (did, n_lines, n_removed, n_kept_tokens) for batch docs. */
  def lineDedupIncremental(newDocs: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val batch = paragraphs(newDocs, idCol, textCol).select(
      col("did"), col("ptext"), xxhash64(col("ptext")).as("h"),
      packedPid("lineDedupIncremental").as("pid"))
    val idx = paragraphs(corpus, idCol, textCol)
      .select(xxhash64(col("ptext")).as("h"), col("ptext")).distinct()
      .withColumn("in_corpus", lit(true))
    val w = Window.partitionBy(col("h"), col("ptext"))
    val stats = lineStatsAgg(batch
      .withColumn("first_in_batch", col("pid") === min(col("pid")).over(w))
      .join(idx, Seq("h", "ptext"), "left")
      .withColumn("keep", col("first_in_batch") && col("in_corpus").isNull))
    // Loud disjointness guard (the repo's fail-loud convention, as the
    // packing-width assert above): a doc present in BOTH inputs would
    // silently see every line flagged as a corpus repeat and its stats
    // double-keyed at the caller. The check is an id-only anti-join
    // probe riding the (batch-sized) stats output — column-pruned
    // corpus scan, no text movement.
    val corpusDids = corpus.select(col(idCol).as("did")).distinct()
      .withColumn("_corpus_doc", lit(true))
    stats.join(corpusDids, Seq("did"), "left")
      .withColumn("n_lines", col("n_lines") +
        coalesce(assert_true(col("_corpus_doc").isNull,
          lit("lineDedupIncremental: batch and corpus share a doc id — " +
            "ids must be disjoint")).cast("long"), lit(0L)))
      .drop("_corpus_doc")
  }

  /** Cross-doc EXACT substring duplication at `w`-token window
    * granularity — the modality set-similarity dedup misses: a long
    * verbatim quote inside two otherwise-unrelated documents moves
    * their Jaccard barely at all but is exactly what substring-level
    * dedup (Lee et al.'s suffix-style pass) must catch. Every doc
    * emits its distinct w-token windows; windows meet on a 64-bit hash
    * (8-byte join keys — the only thing that flows corpus-wide) and
    * candidates are verified on the window string, so a hash collision
    * cannot fabricate a pair. One shuffle to dedup per-doc windows,
    * one equi-join on the hash; no all-pairs shape. Window
    * construction is O(n·w) concat work per doc (a dedicated rolling
    * native expression would make it O(n); RollingHash.scala is the
    * primitive to extend if that ever dominates).
    * Anchor-frequency cap: windows in more than `maxDf` distinct docs
    * are dropped before the join (see [[hotWindowReport]]/the cap
    * scaladoc above — the df² fan bound); n_shared_windows counts
    * non-hot windows only. The default maxDf=64 is the battery's
    * pinned value (shared by the DuckDB oracles and the whole
    * substring family's incremental twins), so default callers and
    * gated callers agree; pass Int.MaxValue to disable the cap.
    * Returns (doc_a, doc_b, n_shared_windows). */
  def substringDupPairs(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 20, maxDf: Int = 64): DataFrame = {
    val hashed = dropHotWindows(windowRows(docs, idCol, textCol, w), maxDf)
    hashed.as("a").join(hashed.as("b"),
        col("a.h") === col("b.h") && col("a.did") < col("b.did") &&
          col("a.s") === col("b.s"))
      .groupBy(col("a.did").as("doc_a"), col("b.did").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_windows"))
  }

  /** Per-window document frequency above `maxDf` — the sideline report
    * of the anchor-frequency cap (below): one row (s, df) per window
    * string appearing in more than `maxDf` distinct docs. At corpus
    * scale this IS the boilerplate census (license headers, nav
    * chrome); its size is bounded by n_windows/maxDf, so it broadcasts.
    * df is exact (countDistinct over the grouped window string — the
    * oracle replays it verbatim; an approximate CMS variant would not
    * be engine-portable). */
  def hotWindowReport(win: DataFrame, maxDf: Int): DataFrame = {
    // two-phase: df first on the 8-byte hash alone (collision-inflated
    // UPPER bound — a hash shared by two strings can only raise the
    // count), then exact (h, s) df for the rare candidates. The big
    // census shuffle moves 16-byte (h, did) pairs, never the window
    // strings; the string-keyed pass is bounded by the candidate set
    // (≤ occurrences/maxDf by pigeonhole). Exactness: a non-candidate
    // hash has TOTAL df ≤ maxDf, so every window under it is cold.
    val candidates = win.select(col("h"), col("did"))
      .groupBy(col("h"))
      .agg(countDistinct(col("did")).as("hdf"))
      .filter(col("hdf") > maxDf)
      .select(col("h"))
    win.join(candidates, Seq("h"), "left_semi")
      .groupBy(col("h"), col("s"))
      .agg(countDistinct(col("did")).as("df"))
      .filter(col("df") > maxDf)
  }

  /** ANCHOR-FREQUENCY CAP — the public exact-substring practice: the
    * window-hash equi-join's output is ∝ Σ df(window)² over distinct
    * windows, so ONE boilerplate 20-token window at df 10⁵ alone yields
    * 10¹⁰ match rows at corpus scale. Windows in more than `maxDf`
    * distinct docs are dropped as match anchors (anti-join against the
    * broadcastable hot set — ≤ n_windows/maxDf rows by pigeonhole).
    *
    * Recall argument: a true repeated span ≥ w through a capped window
    * is still anchored by its RARER neighbor windows — every window of
    * the span that mixes span-specific tokens has the span pair's own
    * df — unless the entire span is boilerplate, which is exactly the
    * span a dedup pass wants dropped, not paired quadratically. The
    * one behavioral edge: a maximal run whose INTERIOR crosses a hot
    * window splits into two overlapping runs at the gap (pinned in
    * TrainOpsSpec); pair counts (d12/d13) count non-hot windows only. */
  private def dropHotWindows(win0: DataFrame, maxDf: Int): DataFrame =
    if (maxDf == Int.MaxValue) win0
    else {
      // the window set feeds the census AND the anti-join AND both
      // match-join sides — checkpoint lazily so the tokenize/explode
      // subtree runs once, not 4-5× (the pqChain convention; at
      // pipeline scale this IS the persisted window index)
      val win = Materialize.checkpoint(win0, eager = false)
      // the capped set feeds both self-join sides downstream —
      // checkpoint it too so the anti-join runs once
      Materialize.checkpoint(win.join(
        broadcast(hotWindowReport(win, maxDf).select(col("h"), col("s"))),
        Seq("h", "s"), "left_anti"), eager = false)
    }

  /** Distinct hashed w-token window rows (did, s, h) — the persistable
    * substring-dedup index artifact (at corpus scale: bucketed by h in
    * the lake, like the minhash band index). */
  def windowRows(docs: DataFrame, idCol: String, textCol: String, w: Int): DataFrame =
    docs.select(col(idCol).as("did"), TextAnalysis.tokens(col(textCol)).as("t"))
      .filter(size(col("t")) >= w)
      .select(col("did"), explode(expr(
        s"transform(sequence(1, size(t) - ${w - 1}), i -> array_join(slice(t, i, $w), ' '))"))
        .as("s"))
      .distinct()
      .select(col("did"), col("s"), xxhash64(col("s")).as("h"))

  /** POSITIONED w-token window rows (did, pos, s, h) — like
    * [[windowRows]] but keeping every occurrence with its 1-based
    * token position instead of collapsing to the distinct window set:
    * the input of run-merge substring dedup ([[maximalRepeatPairs]]),
    * where adjacency between positions is the signal. */
  def positionedWindowRows(docs: DataFrame, idCol: String, textCol: String,
      w: Int): DataFrame =
    docs.select(col(idCol).as("did"), TextAnalysis.tokens(col(textCol)).as("t"))
      .filter(size(col("t")) >= w)
      .select(col("did"), posexplode(expr(
        s"transform(sequence(1, size(t) - ${w - 1}), i -> array_join(slice(t, i, $w), ' '))"))
        .as(Seq("p0", "s")))
      .select(col("did"), (col("p0") + 1).cast("long").as("pos"), col("s"),
        xxhash64(col("s")).as("h"))

  /** ARBITRARY-LENGTH exact substring dedup — maximal cross-doc
    * repeated token runs ≥ `w` tokens (the suffix-array-lite run-merge
    * over rolling windows): d12/d13 count FIXED-width shared windows;
    * real pipelines need the maximal spans (cite a 40-token verbatim
    * splice once, not as 21 overlapping windows). Construction:
    * [[positionedWindowRows]] keeps every w-token window WITH its
    * position; cross-doc matches meet on the window hash and verify on
    * the string (a hash collision cannot fabricate a match — d12's
    * contract); a shared substring of L ≥ w tokens is then exactly a
    * maximal run of L−w+1 consecutive matches along one DIAGONAL
    * (pos_a − pos_b constant), found with the classic
    * pos − row_number() run-grouping — one window function over the
    * MATCHED pairs only, partitioned by (doc_a, doc_b, diagonal).
    *
    * Scale: identical join shape and bounds as [[substringDupPairs]]
    * (window-hash equi-join), plus one key-partitioned window over the
    * matches; nothing touches the corpus beyond the one windowing
    * pass. On a fixed diagonal pos_a determines pos_b, so run rows are
    * duplicate-free by construction. Output is ∝ true match volume OF
    * NON-BOILERPLATE windows: anchors in more than `maxDf` distinct
    * docs are dropped first (the df² fan cap — see [[hotWindowReport]]
    * and the cap scaladoc; a run crossing a hot interior window splits
    * into two overlapping runs at the gap, TrainOpsSpec-pinned).
    * Returns one row per maximal run:
    * (doc_a, doc_b, start_a, start_b, len_tokens), doc_a < doc_b,
    * positions 1-based. */
  def maximalRepeatPairs(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 20, maxDf: Int = 64): DataFrame = {
    val win = dropHotWindows(positionedWindowRows(docs, idCol, textCol, w), maxDf)
    val m = win.as("a").join(win.as("b"),
        col("a.h") === col("b.h") && col("a.did") < col("b.did") &&
          col("a.s") === col("b.s"))
      .select(col("a.did").as("doc_a"), col("b.did").as("doc_b"),
        col("a.pos").as("pos_a"), col("b.pos").as("pos_b"))
    runMerge(m, w)
  }

  /** The diagonal run-merge shared by [[maximalRepeatPairs]] and its
    * incremental twin: matched (doc_a, doc_b, pos_a, pos_b) window
    * occurrences → one row per maximal consecutive run along each
    * (doc_a, doc_b, pos_a − pos_b) diagonal, via pos − row_number()
    * grouping. Input rows must be unique per (pair, diagonal, pos_a). */
  private def runMerge(m: DataFrame, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val diag = col("pos_a") - col("pos_b")
    val runW = Window.partitionBy(col("doc_a"), col("doc_b"), diag)
      .orderBy(col("pos_a"))
    m.withColumn("grp", col("pos_a") - row_number().over(runW))
      .groupBy(col("doc_a"), col("doc_b"), diag.as("diag"), col("grp"))
      .agg(min(col("pos_a")).as("start_a"), min(col("pos_b")).as("start_b"),
        (count(lit(1)) + (w - 1)).as("len_tokens"))
      .select(col("doc_a"), col("doc_b"), col("start_a"), col("start_b"),
        col("len_tokens"))
  }

  /** Incremental [[maximalRepeatPairs]]: maximal cross-doc repeated
    * runs ≥ `w` tokens touching at least one ARRIVING doc — new×corpus
    * and new×new, never corpus×corpus (the d13 ingestion contract at
    * run granularity). One side of every candidate is pinned to the
    * batch by a broadcast semi-join before the window-hash equi-join,
    * so per-batch work is ∝ batch × match fan, never corpus²; matches
    * are oriented (doc_a < doc_b, positions swapped alongside) and
    * deduped BEFORE the diagonal merge — a new×new pair meets once
    * from each side and a duplicated diagonal row would split or
    * double-count its run. Ids must be disjoint across the inputs.
    * The anchor-frequency cap (`maxDf`, see [[hotWindowReport]]) is
    * computed over the UNION window set — batch + corpus — so a window
    * that is boilerplate in the corpus stays capped for every future
    * batch probing it (at pipeline scale the hot set is a persisted
    * artifact refreshed with the window index, not recomputed per
    * batch). Returns the [[maximalRepeatPairs]] shape. */
  def maximalRepeatPairsIncremental(newDocs: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, w: Int = 20, maxDf: Int = 64): DataFrame = {
    val win = dropHotWindows(
      positionedWindowRows(newDocs.unionByName(corpus), idCol, textCol, w), maxDf)
    val probe = win.join(
      broadcast(newDocs.select(col(idCol).as("did"))), Seq("did"), "left_semi")
    val m = probe.as("a").join(win.as("b"),
        col("a.h") === col("b.h") && col("a.did") =!= col("b.did") &&
          col("a.s") === col("b.s"))
      .select(least(col("a.did"), col("b.did")).as("doc_a"),
        greatest(col("a.did"), col("b.did")).as("doc_b"),
        when(col("a.did") < col("b.did"), col("a.pos"))
          .otherwise(col("b.pos")).as("pos_a"),
        when(col("a.did") < col("b.did"), col("b.pos"))
          .otherwise(col("a.pos")).as("pos_b"))
      .distinct()
    runMerge(m, w)
  }

  /** Substring-run REMOVAL — the APPLY side of [[maximalRepeatPairs]]
    * (real pipelines don't just report repeated runs, they excise
    * them). Consumes the (doc_a, doc_b, start_a, start_b, len_tokens)
    * run report — in a pipeline, the persisted d26 artifact — and cuts
    * every LATER occurrence, keeping the first: runs are oriented
    * doc_a < doc_b, so the smallest doc id holding a span retains it
    * and every doc_b's [start_b, start_b + len) token range is cut.
    * Chains resolve consistently (if docs 1 < 2 < 3 share a span, runs
    * (1,2), (1,3), (2,3) cut docs 2 and 3 — overlapping cut ranges
    * need no interval merge, a token is dropped iff ANY cut covers
    * it). Rebuild is pure column work over the NORMALIZED token stream
    * the runs were found on (lower/trim/whitespace-split): cuts
    * collect to a per-doc array (bounded by the doc's run fan — the
    * [[maximalRepeatPairs]] maxDf cap is what keeps that fan linear),
    * then one codegen'd `filter` with a positional lambda keeps each
    * token iff no cut covers its 1-based position. One shuffle
    * (cuts groupBy) + one equi-join; the text never moves except
    * doc-local. Intra-doc repeats (same span twice in ONE doc) are
    * out of scope — the run report is cross-doc by construction.
    * Returns every input doc:
    * (doc_id, n_tokens_before, n_tokens_after, text_clean). */
  def removeRepeatRuns(docs: DataFrame, runs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val cuts = runs.select(col("doc_b").as("did"),
        col("start_b").as("cs"),
        (col("start_b") + col("len_tokens") - 1).as("ce"))
      .groupBy(col("did"))
      .agg(collect_list(struct(col("cs"), col("ce"))).as("cuts"))
    docs.select(col(idCol).as("did"),
        graft.text.TextAnalysis.tokens(col(textCol)).as("t"))
      .join(cuts, Seq("did"), "left")
      .select(col("did").as("doc_id"),
        size(col("t")).cast("long").as("n_tokens_before"),
        expr("filter(t, (x, i) -> cuts IS NULL OR " +
          "NOT exists(cuts, c -> i + 1 >= c.cs AND i + 1 <= c.ce))").as("kept"))
      .select(col("doc_id"), col("n_tokens_before"),
        size(col("kept")).cast("long").as("n_tokens_after"),
        array_join(col("kept"), " ").as("text_clean"))
  }

  /** INTRA-document repeated token runs ≥ `w` tokens — the
    * self-repetition case [[removeRepeatRuns]] declares out of scope
    * (the run report it consumes is cross-doc by construction), yet
    * real corpora carry within-doc boilerplate: t11 measures
    * repetition, this excises it (the Gopher/Lee-et-al repetition
    * filters act on exactly this shape). Every non-first occurrence of
    * a window pairs with the doc's FIRST occurrence of the same window
    * string (min pos over (did, h, s) — one key-partitioned window
    * function, so the fan is ≤ 1 match row per window occurrence:
    * LINEAR even on a degenerate single-token-×-10⁶ doc, where a naive
    * did-equal self-join would emit C(k, 2) pairs per repeated
    * window). The same diagonal run-merge as [[maximalRepeatPairs]]
    * then compresses consecutive matches into maximal runs. A later
    * copy whose windows also appear even EARLIER elsewhere in the doc
    * matches those earlier occurrences instead — the run fragments
    * across diagonals — but cut coverage is unchanged: every repeated
    * window still cuts its own w-token footprint, so
    * [[removeRepeatRuns]] over this report drops exactly the tokens
    * covered by some repeated window (the dropHotWindows run-split
    * argument, made per-doc). No cross-doc join, no maxDf needed: the
    * only shuffle is the per-(did, window) first-occurrence pass.
    *
    * Why this shuffle may carry the window STRINGS (the census's
    * hash-first discipline deliberately not applied): that discipline
    * exists for shuffles whose row count is multiplied by a JOIN fan —
    * the hot-window census computes df on the 8-byte hash alone
    * because its candidate join would otherwise replicate strings df²
    * times. Here the partition key is (did, h, s) under a WINDOW
    * function with fan exactly 1: each occurrence row crosses the wire
    * once, the same ~w× text amplification every consumer of
    * [[positionedWindowRows]]/[[windowRows]] already pays per pass
    * (windowRows' distinct shuffles (did, s, h) rows; the d26 match
    * join shuffles strings on both probe sides). Splitting into a
    * hash-only first pass would still need a second string-bearing
    * shuffle to verify collided (did, h) groups byte-exactly — same
    * volume moved, one more stage — so the single keyed pass is the
    * cheaper exact form; dropping exactness for a double-hash key is
    * the one rewrite that would shrink it, and the family's contract
    * (a hash collision cannot fabricate a match) forbids it.
    * Returns (doc_id, start_first, start_rep, len_tokens) with
    * start_first < start_rep, positions 1-based — feed to
    * [[removeRepeatRuns]] as (doc_b = doc_id, start_b = start_rep) to
    * keep each doc's earliest occurrence and cut the repeats. */
  def selfRepeatRuns(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val win = positionedWindowRows(docs, idCol, textCol, w)
    val fw = Window.partitionBy(col("did"), col("h"), col("s"))
    val m = win.withColumn("fpos", min(col("pos")).over(fw))
      .filter(col("pos") > col("fpos"))
      .select(col("did").as("doc_a"), col("did").as("doc_b"),
        col("pos").as("pos_a"), col("fpos").as("pos_b"))
    runMerge(m, w)
      .select(col("doc_a").as("doc_id"), col("start_b").as("start_first"),
        col("start_a").as("start_rep"), col("len_tokens"))
  }

  /** Incremental substring-window pairs: every pair involving at least
    * one arriving doc — new×corpus and new×new, never corpus×corpus
    * (the d09 ingestion contract at window granularity). The corpus is
    * represented by its (did, s, h) window index (re-derived here over
    * the union so ReuseExchange shares the subplan; persisted via
    * [[windowRows]] in a real pipeline), probed by the batch through a
    * broadcast semi-join. Ids must be disjoint across the inputs;
    * output oriented doc_a < doc_b. The anchor-frequency cap (`maxDf`)
    * is computed over the union window set, as in
    * [[maximalRepeatPairsIncremental]]. */
  def substringDupPairsIncremental(newDocs: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, w: Int = 20, maxDf: Int = 64): DataFrame = {
    val hashed = dropHotWindows(
      windowRows(newDocs.unionByName(corpus), idCol, textCol, w), maxDf)
    val probe = hashed.join(
      broadcast(newDocs.select(col(idCol).as("did"))), Seq("did"), "left_semi")
    probe.as("a").join(hashed.as("b"),
        col("a.h") === col("b.h") && col("a.did") =!= col("b.did") &&
          col("a.s") === col("b.s"))
      .select(least(col("a.did"), col("b.did")).as("doc_a"),
        greatest(col("a.did"), col("b.did")).as("doc_b"), col("a.s").as("s"))
      .distinct()
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared_windows"))
  }

  /** 64-bit SimHash over the token multiset: majority vote per bit of
    * the token hashes. Pure expression tree (64 bit-lanes). */
  def simhash(toks: Column): Column = {
    val hashes = transform(toks, t => xxhash64(t))
    (0 until 64).map { i =>
      val ones = size(filter(hashes, h => shiftright(h, i).bitwiseAND(lit(1L)) === 1L))
      when(ones * 2 > size(hashes), lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
  }

  /** Per-bit SimHash vote sums: explode tokens once, hash once, then a
    * single hash-aggregation with 64 conditional-sum lanes. One shuffle
    * on doc id; returns (did, b0..b63). */
  def simhashLanesDf(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = docs
      .select(col(idCol).as("did"), explode(TextAnalysis.tokens(col(textCol))).as("t"))
      .select(col("did"), xxhash64(col("t")).as("h"))
    val lanes = (0 until 64).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"b$i"))
    tok.groupBy(col("did")).agg(lanes.head, lanes.tail: _*)
  }

  /** Pack 64 vote lanes into the signature long, cutting lane i at
    * cuts(i) (classic simhash cuts at 0). */
  private def packSim(cuts: Int => Column): Column =
    (0 until 64).map(i =>
      when(col(s"b$i") > cuts(i), lit(1L << i)).otherwise(lit(0L))).reduce(_ bitwiseOR _)

  /** Scalable SimHash (majority vote per bit, cut at 0); contrast with
    * the expression-tree `simhash`, which re-traverses the token array
    * per lane. */
  def simhashDf(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashLanesDf(docs, idCol, textCol)
      .select(col("did"), packSim(_ => lit(0)).as("sim"))

  /** SimHash near-dup pairs: 4×16-bit band blocking, then Hamming
    * verification via bit_count(xor). */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 10): DataFrame = {
    val withSim = simhashDf(docs, idCol, textCol)
    // band key = the b-th 16-bit chunk of the 64-bit simhash
    val banded = withSim.select(col("did"), col("sim"),
      explode(array((0 until 4).map(b => struct(lit(b).as("band"),
        shiftright(col("sim"), b * 16).bitwiseAND(lit(0xffffL)).as("bkey"))): _*)).as("bb"))
      .select(col("did"), col("sim"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.did") < col("b.did"))
      .select(col("a.did").as("id_a"), col("b.did").as("id_b"),
        bit_count(col("a.sim").bitwiseXOR(col("b.sim"))).as("hamming"))
      .dropDuplicates("id_a", "id_b")
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash-banded near-dup pairs with exact n-gram-Jaccard
    * verification: band-collision candidates from the 64-bit simhash
    * (16-bit chunks), then verifyJaccard. Unlike simhashPairs (whose
    * hamming output is hash-defined and only rows-checkable), this
    * returns (id_a, id_b, jaccard) — a hash-free contract, so a
    * complete-recall run is oracle-comparable against the exact
    * all-pairs twin. Recall is pigeonhole-GUARANTEED for hamming <
    * `bands`: fewer flipped bits than 8-bit chunks means some chunk is
    * untouched (near-identical docs measure hamming ≤ ~5; the 4×16
    * blocking of simhashPairs has no such guarantee — hamming-4 pairs
    * were observed to dirty all 4 chunks).
    *
    * Two defenses against ambient bit correlation (shared common
    * tokens drag every doc's majority votes the same way — measured
    * 41% of ALL pairs band-colliding on one corpus, with the byte
    * buckets so skewed the candidate join itself went quadratic):
    * (1) each lane is cut at its global corpus mean vote rather than
    * at 0, so ambient docs split ~50/50 per bit and buckets stay
    * uniform — near-identical docs have near-identical vote sums and
    * land on the same side of any cut, so true-pair hamming stays
    * small; (2) a Manku-style `maxHamming` prefilter between banding
    * and verification discards surviving far pairs via bit_count(xor)
    * on the already-computed signatures, so the shingle-materializing
    * exact step only ever sees a small set. The mean-cut pass is one
    * extra 64-column global aggregate (broadcast, one row); sampled
    * cuts were tried and rejected — even mild cut noise flips
    * marginal bits on true pairs and costs recall. */
  def simhashVerifiedPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.5, bands: Int = 8,
      maxHamming: Int = 10): DataFrame = {
    require(64 % bands == 0,
      "bands must divide 64 — a remainder would leave high signature bits unbanded")
    // The lanes table feeds BOTH the mean-cuts aggregate and signature
    // packing; without materialization the tokenize→explode→64-lane
    // aggregation (the dominant cost) runs twice. A LAZY localCheckpoint
    // computes it once at first action (constructing the DataFrame stays
    // free) and truncates lineage, as each dupClusters round does.
    // Tradeoff, deliberate: checkpoint blocks are executor-local — an
    // executor loss mid-job fails the job instead of recomputing (the
    // contract of every local checkpoint; acceptable for a
    // single-stage materialization).
    val lanes = Materialize.checkpoint(simhashLanesDf(docs, idCol, textCol), eager = false)
    val cuts = lanes.agg(
      avg(col("b0")).as("c0"), (1 until 64).map(i => avg(col(s"b$i")).as(s"c$i")): _*)
    val withSim = lanes.crossJoin(broadcast(cuts))
      .select(col("did"), packSim(i => col(s"c$i")).as("sim"))
    val chunk = 64 / bands
    val mask = (1L << chunk) - 1
    val banded = withSim.select(col("did"), col("sim"),
      explode(array((0 until bands).map(b => struct(lit(b).as("band"),
        shiftright(col("sim"), b * chunk).bitwiseAND(lit(mask)).as("bkey"))): _*)).as("bb"))
      .select(col("did"), col("sim"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.did") < col("b.did"))
      .filter(bit_count(col("a.sim").bitwiseXOR(col("b.sim"))) <= maxHamming)
      .select(col("a.did").as("id_a"), col("b.did").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // checkpoint-once before verification (the minhashLshPairs note):
    // the cand subtree here carries the lane/cut/banding chain, which
    // verifyJaccard would otherwise replicate three times
    verifyJaccard(docs,
      Materialize.checkpoint(cand, eager = false),
      idCol, textCol, shingleN, threshold)
  }

  /** (id_a, id_b, c): the number of distinct shingles each doc pair
    * id_a < id_b shares — the shingle self-join behind
    * [[ngramJaccardPairs]] and [[ngramContainmentPairs]]. The shingle
    * rows are small but the join multiplies them, so AQE would
    * coalesce the join's exchange to ONE partition and run the heaviest
    * step serially (sf0.1, 4 cores: one 0.75–1.44 s task in d06, d16
    * and d32). A repartition by `s` to the session's shuffle-partition
    * count is an exchange AQE never coalesces; both join sides read it.
    * Cost: a pair's shared shingles now sit in several partitions, so
    * the partial counts after the join shuffle about twice the bytes. */
  private def sharedShingles(sh: DataFrame): DataFrame = {
    val byS = sh.repartition(sh.sparkSession.sessionState.conf.numShufflePartitions, col("s"))
    byS.as("a").join(byS.as("b"),
        col("a.s") === col("b.s") && col("a.did") < col("b.did"))
      .groupBy(col("a.did").as("id_a"), col("b.did").as("id_b"))
      .agg(count(lit(1)).as("c"))
  }

  /** Exact n-gram Jaccard near-dup pairs via shingle equi-join — fully
    * deterministic (no hashing), the oracle-checkable twin of the LSH
    * path. jaccard = |A∩B| / (|A|+|B|-|A∩B|). */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 2, threshold: Double = 0.5): DataFrame = {
    val sh = shingleRows(docs, idCol, textCol, shingleN)
    val cnt = sh.groupBy(col("did")).agg(count(lit(1)).as("n"))
    val common = sharedShingles(sh)
    common
      .join(cnt.select(col("did").as("id_a"), col("n").as("na")), "id_a")
      .join(cnt.select(col("did").as("id_b"), col("n").as("nb")), "id_b")
      .filter(col("c").cast("double") / (col("na") + col("nb") - col("c")) >= threshold)
      .select(col("id_a"), col("id_b"),
        graft.core.Exprs.roundHalfUp(
          col("c").cast("double") / (col("na") + col("nb") - col("c")), 4).as("jaccard"))
  }

  /** Asymmetric n-gram CONTAINMENT pairs: C(A→B) = |A∩B| / |A| — the
    * quote / partial-copy detector symmetric Jaccard misses (a short
    * doc fully contained in a long one has LOW Jaccard — the union is
    * dominated by the long doc — but containment ≈ 1 from the short
    * side). Same shingle equi-join and per-doc distinct-shingle counts
    * as [[ngramJaccardPairs]]; a pair is reported when EITHER
    * direction's containment clears the threshold, with both
    * directions on the row. At corpus scale the same banding caveat as
    * d04 applies — this exact form is the oracle shape, the MinHash
    * path the candidate generator. */
  def ngramContainmentPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 2, threshold: Double = 0.8): DataFrame = {
    val sh = shingleRows(docs, idCol, textCol, shingleN)
    val cnt = sh.groupBy(col("did")).agg(count(lit(1)).as("n"))
    val common = sharedShingles(sh)
    val contAb = col("c").cast("double") / col("na")
    val contBa = col("c").cast("double") / col("nb")
    common
      .join(cnt.select(col("did").as("id_a"), col("n").as("na")), "id_a")
      .join(cnt.select(col("did").as("id_b"), col("n").as("nb")), "id_b")
      .filter(contAb >= threshold || contBa >= threshold)
      .select(col("id_a"), col("id_b"),
        graft.core.Exprs.roundHalfUp(contAb, 4).as("cont_ab"),
        graft.core.Exprs.roundHalfUp(contBa, 4).as("cont_ba"))
  }

  /** Duplicate-cluster assignment: connected components over near-dup
    * pairs via alternating LARGE-STAR / SMALL-STAR contraction (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC
    * 2014). Returns (id, cluster) with cluster = min id in the
    * component, for every node of a pair with id_a ≠ id_b (a self-pair
    * carries no edge).
    *
    * Round count: min-label propagation needs as many rounds as the
    * component's diameter, and a transitive near-dup CHAIN
    * (v1≈v2≈…≈vL — successive crawl snapshots, versioned boilerplate)
    * has diameter L. Star contraction converges in O(log² n)
    * worst-case / ~log L observed rounds regardless of shape (ScaleSpec
    * pins ≤ 20 rounds on a 1024-chain, where propagation would need
    * 1023). A `maxIter` exit without the fixpoint fails loudly.
    *
    * Round = large-star then small-star, each a window min + re-emit
    * over the edge list. Edges stay canonical (u > v) throughout:
    *   - large-star, per node x of the SYMMETRIC graph: every
    *     larger neighbor y > x re-attaches to m = min(Γ(x) ∪ {x});
    *   - small-star, per node u of the canonical list: u and its
    *     smaller neighbors all attach to their min.
    * Fixpoint (the edge set stops changing — an exact per-round set
    * compare, not a checksum) is a star forest: every node points
    * directly at its component min. The edge set and every round are
    * checkpoints, so the plan stays flat and nothing is left cached. */
  def dupClusters(pairs: DataFrame, maxIter: Int = 32): DataFrame =
    dupClustersWithRounds(pairs, maxIter)._1

  /** [[dupClusters]] plus the converged round count (for the ScaleSpec
    * round-count pin). */
  private[graft] def dupClustersWithRounds(pairs: DataFrame,
      maxIter: Int = 32): (DataFrame, Int) = {
    import org.apache.spark.sql.expressions.Window
    val spark = pairs.sparkSession
    // canonical u > v, self-loops dropped; the candidate-pair pipeline
    // feeding `pairs` materializes HERE — before AQE is toggled off, so
    // its big shuffles keep adaptive skew/coalesce handling
    var edges = Materialize.checkpoint(pairs.select(
        greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct(), eager = true)
    // the loop runs 2-3 graph-sized shuffles per round (near-dup
    // components are tiny next to the corpus), sized to the edge set
    lazy val n0 = edges.count()
    Materialize.sized(spark, n0) {
      var prevCount = n0
      var rounds = 0
      var stable = false
      while (!stable && rounds < maxIter) {
        // Each round is ONE action: both star ops are window minima
        // (not groupBy+self-join — a join would consume its left side
        // through multiple branches and re-evaluate the round's
        // lineage per branch), the small-star's two emissions ride one
        // explode, and the fixpoint check is a single aggregate over
        // the new set left-joined to the old. Round latency — plan +
        // job, not data — dominates at every scale where CC matters,
        // and the 3-actions-per-round draft measured ~0.9 s/round of
        // pure planning/launch on a 70-edge graph.
        // large-star over the symmetric view: (y > x) re-attaches to
        // m = min(Γ(x) ∪ {x}); output stays canonical because m ≤ x < y
        val sym = edges.select(col("u").as("x"), col("v").as("y"))
          .unionByName(edges.select(col("v").as("x"), col("u").as("y")))
        val wL = Window.partitionBy(col("x"))
        // no distinct here (r18): the small-star min below is
        // duplicate-insensitive and ss re-distincts, so the dedup
        // exchange+aggregate this carried every round bought nothing —
        // duplicate (u,v) rows (bounded by the symmetric degree) ride
        // one more exchange instead. Set semantics per round unchanged.
        val ls = sym
          .withColumn("m", least(min(col("y")).over(wL), col("x")))
          .filter(col("y") > col("x"))
          .select(col("y").as("u"), col("m").as("v"))
        // small-star over the canonical list: u and its smaller
        // neighbors attach to min(N<(u)); all outputs (·, m) canonical
        val wS = Window.partitionBy(col("u"))
        val ss = Materialize.checkpoint(ls
          .withColumn("m", min(col("v")).over(wS))
          .select(explode(array(
            struct(col("v").as("u"), col("m").as("v")),
            struct(col("u"), col("m").as("v")))).as("e"))
          .select(col("e.u").as("u"), col("e.v").as("v"))
          .filter(col("u") =!= col("v"))
          .distinct(), eager = false)
        // exact fixpoint in the same action: new-set size (old size is
        // carried, not recomputed) and overlap with the old set — both
        // distinct, so nNew == nOld == prevCount ⇔ set equality
        val chk = ss.join(
            edges.select(col("u"), col("v"), lit(1).as("old_e")),
            Seq("u", "v"), "left")
          .agg(count(lit(1)).as("n"), count(col("old_e")).as("o")).head()
        stable = chk.getLong(0) == prevCount && chk.getLong(1) == chk.getLong(0)
        prevCount = chk.getLong(0)
        edges = ss
        rounds += 1
      }
      // fail-loud contract (r14 advice): a maxIter exit without the
      // fixpoint means the labels below may not be component minima —
      // silently returning them would hand a caller wrong clusters
      // with no signal. ~log² n rounds suffice for ANY graph, so
      // tripping this at maxIter=32 indicates a bug, not a big input.
      require(stable,
        s"dupClusters: no fixpoint after $maxIter rounds " +
          s"(edge set still changing, |E|=$prevCount) — labels would " +
          "not be component minima; raise maxIter only with evidence")
      // converged star forest: every u points at its component min;
      // roots (v-side only) label themselves
      val uLab = edges.groupBy(col("u")).agg(min(col("v")).as("cluster"))
        .select(col("u").as("id"), col("cluster"))
      val roots = edges.select(col("v")).distinct()
        .join(edges.select(col("u").as("v")).distinct(), Seq("v"), "left_anti")
        .select(col("v").as("id"), col("v").as("cluster"))
      (uLab.unionByName(roots), rounds)
    }
  }

  /** Integer PageRank over the near-dup pair graph — template/
    * boilerplate HUB detection: in a web-scale corpus the documents
    * with the most near-dup edges are shared templates (nav chrome,
    * license boilerplate), and their centrality — not just degree —
    * ranks which ones anchor whole duplication neighborhoods. The
    * classic damped iteration runs in exact integer arithmetic (ranks
    * in 1e-6 units, floor division for the out-degree split and the
    * 0.85 damping), so a fixed iteration count is engine-portable —
    * no float convergence drift. The pair graph is symmetric, so
    * every node both emits and receives each round: no dangling-mass
    * correction is needed.
    *
    * Scale: each iteration is one |E|-sized equi-join + a partial-
    * aggregating rollup keyed on the receiving doc; degree and rank
    * tables are node-sized. Iterations are a fixed small constant —
    * centrality ordering stabilizes in a few rounds on the tiny
    * components a near-dup graph has. Returns (doc_id, outdeg, rank)
    * for every node of the pair graph. */
  def pairPageRank(pairs: DataFrame, iters: Int = 3): DataFrame = {
    // edges materialize HERE (first action on the checkpoint) — before
    // AQE is toggled off, so the candidate-pair pipeline feeding
    // `pairs` keeps adaptive handling for its big shuffles
    val edges = Materialize.checkpoint(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst"))),
      eager = true)
    // the per-iteration jobs are graph-sized (tiny next to the corpus
    // work that produced the pairs): eagerly-checkpointed tiny jobs,
    // sized to the edge set
    val spark = pairs.sparkSession
    Materialize.sized(spark, edges.count()) {
      // the scope's partition count (AQE is off, so no coalescing
      // initial count stands in for it)
      val e = edges.coalesce(spark.sessionState.conf.numShufflePartitions)
      val deg = Materialize.checkpoint(
        e.groupBy(col("src")).agg(count(lit(1)).as("outdeg")), eager = true)
      var rank = deg.select(col("src").as("id"), lit(1000000L).as("pr"))
      for (_ <- 1 to iters) {
        rank = Materialize.checkpoint(e.join(deg, "src")
          .join(rank, col("src") === col("id"))
          .select(col("dst"), expr("pr div outdeg").as("c"))
          .groupBy(col("dst")).agg(sum(col("c")).as("s"))
          .select(col("dst").as("id"),
            (lit(150000L) + expr("85 * s div 100")).as("pr")), eager = true)
      }
      rank.join(deg, col("id") === col("src"))
        .select(col("id").as("doc_id"), col("outdeg"), col("pr").as("rank"))
    }
  }

  /** Per-node TRIANGLE counts over the near-dup pair graph — the
    * local-density signal beside degree (d21) and component (d06): a
    * doc whose neighborhood closes into triangles sits inside a
    * mutually-similar clique (template families, mirror farms); a
    * high-degree doc with NO triangles is a hub stitching unrelated
    * near-dups (a boilerplate fragment) — different cleanup actions.
    *
    * Algorithm: degree-ordered wedge closing. Each undirected edge is
    * oriented from its (degree, id)-lexicographically smaller endpoint
    * to the larger; wedges are built only between out-neighbors of a
    * shared source (equi-join on src, id-ordered to emit each
    * unordered neighbor pair once) and closed against the id-ordered
    * edge list. Every triangle {p,q,r} closes exactly once — at its
    * (deg,id)-minimum vertex. The orientation bounds every node's
    * out-degree at O(√m) on ANY degree distribution, so the wedge
    * join fan is O(m^1.5) worst case instead of Σdeg² — the property
    * that survives a boilerplate hub with a million neighbors at
    * corpus scale; all three steps are equi-joins + partial-agg
    * shuffles, no node ever collects its neighborhood into one row.
    * Returns (doc_id, deg, n_tri) for every node of the pair graph
    * (n_tri = 0 kept — the hub-vs-clique contrast IS the signal).
    *
    * PRECONDITION (the LSH pair contract, as [[graft.mm.Multimodal]]'s
    * phashNearDupPairs documents its window contract): `pairs` must be
    * a DEDUPLICATED undirected edge list oriented id_a < id_b — what
    * every near-dup generator here emits (dropDuplicates over an
    * id-ordered join). A duplicated or reversed edge would inflate
    * degrees via the symmetrized union and double-count or miss
    * closing edges SILENTLY; defensively re-normalizing
    * (least/greatest + dropDuplicates) would re-shuffle the full edge
    * list on every call to re-prove what the producer already
    * guarantees, so the contract is documented instead. */
  def triangleCounts(pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("id_a").as("a"), col("id_b").as("b"))
    val sym = edges.unionByName(edges.select(col("b").as("a"), col("a").as("b")))
    val deg = sym.groupBy(col("a")).agg(count(lit(1)).as("deg"))
      .select(col("a").as("n"), col("deg"))
    val dd = edges
      .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = dd.select(
      when(aFirst, col("a")).otherwise(col("b")).as("src"),
      when(aFirst, col("b")).otherwise(col("a")).as("dst"))
    val tri = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.src").as("p"),
        least(col("e1.dst"), col("e2.dst")).as("x"),
        greatest(col("e1.dst"), col("e2.dst")).as("y"))
      // closing edge lookup against the ID-ordered pair list: the
      // wedge endpoints are normalized to (min id, max id) above, so
      // one equi-join suffices regardless of the closing edge's
      // degree orientation
      .join(edges.select(col("a").as("x"), col("b").as("y")), Seq("x", "y"))
    val perNode = tri
      .select(explode(array(col("p"), col("x"), col("y"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("n"), "left")
      .select(col("n").as("doc_id"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }

  /** Hyperplane-bit default ∝ corpus: 2^bits band buckets sized to
    * ~4× the corpus (bits = ⌈log2(4·rows)⌉, clamped to [minBits,
    * maxBits]) keeps expected bucket occupancy constant as the corpus
    * grows — a fixed bucket space densifies and the candidate join
    * regenerates the cross join. maxBits 24 caps the per-plane
    * projection cost (bands×bits hash lanes per vector element). */
  def adaptiveHyperplaneBits(rows: Long, minBits: Int = 8,
      maxBits: Int = 24): Int = {
    val target = math.max(1L, 4L * math.max(1L, rows))
    val ceilLog2 =
      if (target <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(target - 1)
    math.min(maxBits, math.max(minBits, ceilLog2))
  }

  /** Random-hyperplane LSH near-dup pairs — the scale path for
    * embeddingCosinePairs. Each of `bands`×`bits` Rademacher
    * hyperplanes is derived deterministically from xxhash64(plane,
    * dim) → ±1 (no stored plane matrix, no UDF); a vector's bit is the
    * sign of its projection. The whole signature stage is
    * codegen-clean: (vector element × plane) contributions are
    * generated as rows — posexplode the vector, explode the plane
    * range — and summed by one partial-aggregating shuffle keyed
    * (did, plane), then bits fold into per-band bucket keys with a
    * second tiny aggregation. (Higher-order functions like
    * zip_with/aggregate are CodegenFallback, and a single agg with
    * bands×bits sum lanes trips spark.sql.codegen.maxFields — both
    * interpreted-mode shapes measured ~5-10× slower than this one.)
    * Vectors agreeing on every bit of a band share a bucket; exact
    * cosine runs on bucket-mates only — vectors are joined back onto
    * the (small) candidate set rather than carried through the
    * banding, so neither the corpus cross-join nor vector-wide
    * shuffle rows ever exist. Per-band collision probability for
    * angle θ is (1−θ/π)^bits — recall is tunable, not exact: pairs
    * barely at the threshold can be missed (the exact twin is the
    * oracle shape). Bucket count per band is 2^bits; `bits <= 0`
    * (the default) sizes it from the corpus via
    * [[adaptiveHyperplaneBits]] so band buckets stay sparse at any
    * scale — a FIXED bits densifies as the corpus grows and the
    * candidate set regenerates the cross join (measured ~11× at 10×
    * corpus at fixed 16-bit space). More `bands` buys recall back at
    * linear cost.
    *
    * NOTE on laziness: with `bits <= 0` this runs an EAGER
    * `embs.count()` action to size the bit space — one extra
    * evaluation of the caller's upstream plan per call (the rest of
    * the API is lazy). Callers that know the corpus size — or hold a
    * cached/landed input — should pass `rowCount` (used only when
    * `bits <= 0`) to keep the call fully lazy; passing explicit
    * `bits > 0` also skips the count. */
  def embeddingCosinePairsLsh(embs: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bits: Int = 0, bands: Int = 8,
      rowCount: Long = -1L): DataFrame = {
    val b = if (bits > 0) bits
      else adaptiveHyperplaneBits(if (rowCount >= 0L) rowCount else embs.count())
    val nPlanes = b * bands
    val base = embs.select(col(idCol).as("did"), col(vecCol).as("__v"))
    val contrib = base
      .select(col("did"), posexplode(col("__v")).as(Seq("pos", "x")))
      .select(col("did"), col("pos"), col("x"),
        explode(sequence(lit(0), lit(nPlanes - 1))).as("p"))
      .select(col("did"), col("p"),
        (col("x") * when(pmod(xxhash64(col("p"), col("pos")), lit(2)) === 0, 1.0)
          .otherwise(-1.0)).as("c"))
    val proj = contrib.groupBy(col("did"), col("p")).agg(sum(col("c")).as("proj"))
    val banded = proj
      .select(col("did"), (col("p") / lit(b)).cast("int").as("band"),
        expr(s"shiftleft(CAST(proj >= 0 AS BIGINT), CAST(p % $b AS INT))").as("w"))
      .groupBy(col("did"), col("band")).agg(sum(col("w")).as("bkey"))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.did") < col("b.did"))
      .select(col("a.did").as("id_a"), col("b.did").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    cand
      .join(base.select(col("did").as("id_a"), col("__v").as("va")), "id_a")
      .join(base.select(col("did").as("id_b"), col("__v").as("vb")), "id_b")
      .select(col("id_a"), col("id_b"),
        graft.core.Exprs.roundHalfUp(Vectors.cosine(col("va"), col("vb")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SemDeDup-style SEMANTIC dedup (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space, then compare ONLY
    * cluster-mates — a vector is removed iff a lower-id mate of its
    * cluster sits at cosine ≥ `threshold` (first-occurrence retention,
    * the d01/d14 convention, where the paper leaves the keeper choice
    * open). Cluster bounding is the published trick that turns the
    * corpus² pair stage into Σ|cluster|²; the centroid count is the
    * scale knob that caps cluster size (the assignment itself is a
    * broadcast of the small centroid table — Ann.ivfAssign, shared
    * with the IVF search/training path, so one clustering artifact
    * serves search AND dedup). Catches paraphrase-level duplication
    * that shingle/minhash passes miss entirely.
    * centroids: (cid, cvec). Returns (vid, cid, keep). */
  def semDedup(embs: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, threshold: Double): DataFrame = {
    val assigned = graft.ann.Ann.ivfAssign(
      embs.select(col(idCol).as("vid"), col(vecCol).as("vec")), centroids)
    val dup = assigned.as("a").join(assigned.as("b"),
        col("a.cid") === col("b.cid") && col("a.vid") < col("b.vid"))
      .select(col("b.vid").as("vid"),
        graft.core.Exprs.roundHalfUp(
          Vectors.cosine(col("a.vec"), col("b.vec")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
      .select(col("vid")).distinct().withColumn("dup", lit(true))
    assigned.select(col("vid"), col("cid"))
      .join(dup, Seq("vid"), "left")
      .select(col("vid"), col("cid"), col("dup").isNull.as("keep"))
  }

  /** Embedding-cosine near-dup pairs over a bounded id slice (the
    * all-pairs verification shape; LSH/IVF blocking is the scale path —
    * embeddingCosinePairsLsh). */
  def embeddingCosinePairs(embs: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val a = embs.select(col(idCol).as("id_a"), col(vecCol).as("va"))
    val b = embs.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.core.Exprs.roundHalfUp(Vectors.cosine(col("va"), col("vb")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
