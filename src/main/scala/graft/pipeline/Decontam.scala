package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Materialize

import graft.dedup.Dedup
import graft.text.TextAnalysis

/** Benchmark decontamination for training corpora: flag every corpus
  * document that shares a word n-gram with an evaluation/benchmark
  * set — the standard "n-gram overlap" decontamination step run before
  * training (the eval side is benchmarks, i.e. tiny next to the
  * corpus).
  *
  * Physical shape: corpus shingles are generated per row with
  * codegen-clean expressions — explode(sequence) index rows +
  * element_at window slices (NOT the `wordShingles` transform/slice
  * HOFs, which are CodegenFallback and measured 4× slower; NOT the
  * window-lead `shingleRows`, which shuffles the whole corpus) — so
  * the corpus reaches the broadcast eval probe with NO shuffle at
  * all. Intra-doc duplicate shingles survive to the join and are
  * collapsed afterwards by count_distinct: the only exchange carries
  * the MATCHED (doc, shingle) rows — at corpus scale a tiny
  * fraction — partial-aggregated on doc id. */
object Decontam {

  /** (did, s) shingle rows, duplicates within a doc allowed (collapsed
    * after the probe); every expression here is codegen'd. Shingle
    * construction matches [[Dedup.shingleRows]]/[[Dedup.wordShingles]]:
    * docs shorter than `n` tokens contribute their whole text as one
    * shingle. Shared by the exact broadcast probe ([[contaminated]])
    * and the Bloom-pruned variant ([[bloomContaminated]]). */
  private def shingled(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = df
    .select(col(idCol).as("did"), TextAnalysis.tokens(col(textCol)).as("__t"))
    .select(col("did"), col("__t"), explode(
      when(size(col("__t")) >= n, sequence(lit(1), size(col("__t")) - (n - 1)))
        .otherwise(array(lit(1)))).as("__i"))
    .select(col("did"),
      when(size(col("__t")) >= n,
        concat_ws(" ", (0 until n).map(j => element_at(col("__t"), col("__i") + j)): _*))
        .otherwise(concat_ws(" ", col("__t"))).as("s"))

  /** (idCol, n_shared) for every corpus doc sharing ≥ 1 distinct word
    * n-gram with `eval`; n_shared = how many of the doc's distinct
    * shingles appear anywhere in the eval set. Clean docs are absent
    * (semi-join semantics — at 100 TB the output is the contamination
    * report, not a corpus-wide annotation). */
  def contaminated(corpus: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, n: Int = 3): DataFrame = {
    val evalSh = shingled(eval, idCol, textCol, n).select(col("s")).distinct()
    shingled(corpus, idCol, textCol, n).join(broadcast(evalSh), "s")
      .groupBy(col("did").as(idCol))
      .agg(count_distinct(col("s")).as("n_shared"))
  }

  /** Bloom-filter decontamination — [[contaminated]]'s output through
    * the probe a 100 TB pipeline actually runs. `contaminated`
    * broadcasts the eval shingle SET into a hash-join probe: correct,
    * but the broadcast scales with eval text volume (strings) and every
    * corpus shingle pays a hash-table lookup against it. Here the eval
    * side is compressed to a Bloom filter over xxhash64(shingle) —
    * ~1.2 MB per million shingles at fpp 1%, independent of string
    * length — built by one distributed `stat.bloomFilter` aggregate
    * (`BloomFilterAggregate` partials OR-merge, so 1000 executors build
    * it in one pass), broadcast to every task, and probed MAP-SIDE: a
    * clean shingle dies inside the scan stage without touching any
    * join. Only Bloom-positives (true hits + fpp ambient) reach the
    * exact broadcast verify join, so false positives are FILTERED, not
    * reported — the output is value-identical to [[contaminated]]
    * (Bloom filters have no false negatives), which is the gate.
    *
    * The probe is a Scala UDF over the broadcast filter: Spark exposes
    * no public bloom-probe function (its runtime-filter
    * `BloomFilterMightContain` is internal), and a one-arg
    * `Long => Boolean` UDF stays inside whole-stage codegen. The
    * mergeability contract rides along like q8/q9: 8 shard-partial
    * filters OR-merged driver-side must serialize BIT-IDENTICALLY to
    * the direct build (Bloom insertion is idempotent bit-setting, so
    * merge is exact, not bounded) — `merge_exact` on every row. One
    * shard-occupancy aggregate sizes the filter and locates non-empty
    * shards (the cmsHeavyHitters bounded-collect convention); the
    * per-shard builds are eval-side jobs, bounded by the benchmark
    * set, never the corpus.
    *
    * Returns (idCol, n_shared, merge_exact) — n_shared exactly as
    * [[contaminated]]. */
  def bloomContaminated(corpus: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, n: Int = 3, fpp: Double = 0.01): DataFrame = {
    val s = corpus.sparkSession
    val evalSh = shingled(eval, idCol, textCol, n).select(col("s")).distinct()
    // the hashed eval set feeds ~10 EAGER jobs below (occupancy count,
    // the direct build, up to 8 shard builds) — checkpoint it so the
    // tokenize/explode/distinct pipeline runs once, not per job (the
    // RETURNED plan reads evalSh, not evalH)
    val evalH = Materialize.checkpoint(evalSh.select(xxhash64(col("s")).as("h")), eager = true)
    // shard occupancy in one small-side job: stat.bloomFilter NPEs on a
    // zero-row input (the build aggregate returns a null blob), and a
    // tiny eval set legitimately leaves shards empty — an empty shard
    // contributes nothing to the bit-OR, so it is skipped, not built
    val shardCounts = evalH
      .groupBy(pmod(col("h"), lit(8)).as("shard"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = math.max(shardCounts.values.sum, 1L)
    if (shardCounts.isEmpty)
      // empty eval set: nothing can be contaminated, and there is no
      // filter to build (or merge) — empty report, corpus never scanned
      return corpus.select(col(idCol)).limit(0)
        .withColumn("n_shared", lit(0L))
        .withColumn("merge_exact", lit(true))
    val direct = evalH.stat.bloomFilter("h", expected, fpp)
    val merged = shardCounts.keys.toSeq.sorted
      .map(i => evalH.filter(pmod(col("h"), lit(8)) === i)
        .stat.bloomFilter("h", expected, fpp))
      .reduce { (a, b) => a.mergeInPlace(b); a }
    def bytes(f: org.apache.spark.util.sketch.BloomFilter): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream(); f.writeTo(bos); bos.toByteArray
    }
    val mergeExact = java.util.Arrays.equals(bytes(direct), bytes(merged))
    val bc = s.sparkContext.broadcast(direct)
    val mightContain = udf((h: Long) => bc.value.mightContainLong(h))
    shingled(corpus, idCol, textCol, n)
      .filter(mightContain(xxhash64(col("s"))))
      .join(broadcast(evalSh), "s")
      .groupBy(col("did").as(idCol))
      .agg(count_distinct(col("s")).as("n_shared"))
      .withColumn("merge_exact", lit(mergeExact))
  }

  /** NEAR-duplicate decontamination — the fuzzy complement of
    * [[contaminated]]: paraphrased or lightly-edited benchmark leakage
    * moves every exact n-gram but leaves set similarity high, so this
    * pass flags corpus docs whose n-gram Jaccard against ANY benchmark
    * doc reaches `threshold`. Candidates come from the banded MinHash
    * index ([[Dedup.minhashBanded]] — ONE signature pass over
    * corpus ∪ eval, ReuseExchange shares it between the two join
    * sides); only corpus×eval band collisions survive (corpus×corpus is
    * never paired — the eval side is benchmarks, tiny next to the
    * corpus, so the candidate volume is bounded by it), and every
    * candidate is EXACT-verified ([[Dedup.verifyJaccard]]), so complete
    * banding recall makes the output equal the exact corpus×eval twin.
    * Defaults band r = 2 (16 bands over k = 32): near-threshold pairs
    * at j = 0.5 are missed with p ≈ (1 − 0.5²)¹⁶ ≈ 1%, vs 10%+ at the
    * dedup default r = 4 — decontamination is recall-critical (a missed
    * pair trains on the benchmark), and the extra ambient candidates
    * the shorter bands admit are bounded by the eval side and die in
    * verification. Ids must be disjoint across the two inputs (loud
    * guard below). Returns one row per contaminated corpus doc:
    * (idCol, max_jaccard, n_bench_matches). */
  def fuzzyContaminated(corpus: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, k: Int = 32, bands: Int = 16, shingleN: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val all = eval.unionByName(corpus)
    val bAll = Dedup.minhashBanded(all, idCol, textCol, k, bands, shingleN)
    val evalIds = eval.select(col(idCol).as("did"))
    val bEval = bAll.join(broadcast(evalIds), Seq("did"), "left_semi")
    val bCorp = bAll.join(broadcast(evalIds), Seq("did"), "left_anti")
    val cand = bCorp.as("a").join(bEval.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey"))
      .select(col("a.did").as("id_a"), col("b.did").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // checkpoint-once before verification (the minhashLshPairs note):
    // verifyJaccard embeds its candidate argument three times, and each
    // copy re-inlines the corpus-wide signature/banding lineage — at
    // sf0.1 this ran ~28 replicated signature stages concurrently
    // (measured: 86 task-s for 25 cpu-s, the gap being block-manager
    // contention between the replicas). The candidate pair set is
    // banding-bounded (≤ |eval| × bucket occupancy), so the checkpoint
    // is tiny.
    val report = Dedup.verifyJaccard(all,
      Materialize.checkpoint(cand, eager = true),
      idCol, textCol, shingleN, threshold)
      .groupBy(col("id_a").as(idCol))
      .agg(max(col("jaccard")).as("max_jaccard"),
        count(lit(1)).as("n_bench_matches"))
    // Loud disjointness guard (the lineDedupIncremental convention): a
    // doc id present in BOTH inputs is carved out of the corpus side of
    // the candidate join (and pollutes the shared signature/shingle
    // passes), silently escaping decontamination — an id-equality probe
    // on the report can never see it, so the guard is a one-row overlap
    // COUNT (id-only column-pruned corpus scan, eval side broadcast)
    // crossed onto the output as a broadcast one-row aggregate.
    val overlap = corpus.select(col(idCol).as("did"))
      .join(broadcast(evalIds), Seq("did"), "left_semi")
      .agg(count(lit(1)).as("_n_overlap"))
    report.crossJoin(broadcast(overlap))
      .withColumn("n_bench_matches", col("n_bench_matches") +
        coalesce(assert_true(col("_n_overlap") === 0,
          lit("fuzzyContaminated: corpus and eval share doc ids — " +
            "ids must be disjoint")).cast("long"), lit(0L)))
      .drop("_n_overlap")
  }

  /** EMBEDDING-space decontamination — the semantic complement of the
    * n-gram passes above (contaminated = paraphrased or re-worded
    * benchmark items that share no 3-gram but sit next to the
    * benchmark in embedding space — the class exact/fuzzy text
    * matching structurally cannot see). Benchmark vectors probe their
    * `nprobe` nearest IVF buckets and score only the bucket members
    * (the n07 multi-probe candidate shape: per-bench fan is bounded by
    * bucket occupancy, never the corpus), keeping every bucket-mate at
    * round-6 cosine ≥ threshold — no top-k cap, because decontamination
    * must report EVERY hit, not the k best. Probe choice ranks on the
    * same quantized cosine as the assignment, so the candidate set —
    * and with it the whole report — is engine-portable. Recall is the
    * nprobe knob (a contaminated pair straddling all probed buckets is
    * missed — identically in any replay); raise nprobe or centroid
    * count with corpus scale. Returns one row per contaminated corpus
    * vector: (vid, max_cosine, n_bench_matches).
    *
    * corpus: (vid, vec) · bench: (qid, qvec) · centroids: (cid, cvec). */
  def semanticContaminated(corpus: DataFrame, bench: DataFrame,
      centroids: DataFrame, nprobe: Int = 2,
      threshold: Double = 0.95): DataFrame = {
    import graft.ann.{Ann, Vectors}
    Ann.queryProbes(bench, centroids, nprobe).join(Ann.ivfAssign(corpus, centroids), "cid")
      .select(col("qid"), col("vid"), Vectors.cos6(col("qvec"), col("vec")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .groupBy(col("vid"))
      .agg(max(col("cosine")).as("max_cosine"),
        count(lit(1)).as("n_bench_matches"))
  }
}
