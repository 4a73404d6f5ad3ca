package graft.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Ranked

/** Product quantization (PQ) — the memory side of a production ANN
  * index (IVF-PQ): each vector is split into `m` subvectors and every
  * subvector is replaced by the id of its nearest codeword from a
  * per-subspace codebook, compressing a d-float vector to m small
  * codes. At corpus scale the search then never touches raw vectors:
  * asymmetric distance computation (ADC) scores a query against the
  * codes alone via a per-query distance table.
  *
  * Engine-portable arithmetic throughout: vector values are quantized
  * to integral 1e-6 units up front, so every squared-L2 distance is an
  * exact BIGINT sum (|x| ≤ ~1 → units ≤ ~1e6, squared ≤ ~1e12, summed
  * over ≤ 64 dims ≤ ~1e14 — far inside Int64), argmins are exact
  * integer comparisons with the codeword id as tiebreak, and codebook
  * means re-quantize half-up — any SQL engine replays training,
  * encoding, and search bit-for-bit (the n05 k-means trick, applied to
  * L2).
  *
  * Physical shapes: codebooks are tiny (m·k·ds rows) and BROADCAST;
  * assignment/ADC tables explode to per-dimension rows and partial-
  * aggregate on their group keys — the d08/n05 codegen-clean pattern
  * (no CodegenFallback array lambdas in the hot path); the corpus side
  * of ADC carries only (vid, sub, cid) codes, never vectors. */
object Pq {

  /** Integer-unit per-dimension subvector rows: (vid, sub, dim, v)
    * where `sub` = dim0 div ds, `dim` = dim0 mod ds, and v is the
    * element in exact 1e-6 units. One explode, no shuffle. */
  def subDims(df: DataFrame, idCol: String, vecCol: String, ds: Int): DataFrame = {
    require(ds >= 1, s"Pq.subDims: ds=$ds must be positive")
    df.select(col(idCol).as("vid"), posexplode(col(vecCol)).as(Seq("dim0", "x")))
      .select(col("vid"),
        floor(col("dim0") / ds).cast("long").as("sub"),
        pmod(col("dim0"), lit(ds)).cast("long").as("dim"),
        floor(col("x").cast("double") * 1e6 + 0.5).cast("long").as("v"))
  }

  /** Nearest codeword per (vector, subspace): exact integer squared-L2
    * argmin with cid-asc tiebreak. `cb` (sub, cid, dim, cv) is
    * broadcast; the per-dimension join fans to n·d·k rows that
    * partial-aggregate map-side on (vid, sub, cid) — one shuffle
    * bounded by n·m·k, then the argmin is a second partial aggregation.
    * Returns (vid, sub, cid, d2). */
  def assign(sub: DataFrame, cb: DataFrame): DataFrame =
    Ranked.argmax(
      sub.join(broadcast(cb), Seq("sub", "dim"))
        .groupBy(col("vid"), col("sub"), col("cid"))
        .agg(sum((col("v") - col("cv")) * (col("v") - col("cv"))).as("d2")),
      Seq("vid", "sub"),
      Seq(-col("d2"), -col("cid")),
      Seq("cid" -> col("cid"), "d2" -> col("d2")))

  /** Residual subvector rows — the canonical IVF-PQ composition
    * (Jégou et al., "Product quantization for nearest neighbor
    * search", IEEE TPAMI 2011): PQ quantizes the residual
    * x − c(bucket) instead of x itself, concentrating codebook
    * capacity on the within-cell displacement (much lower variance
    * than raw vectors once the coarse quantizer has explained the
    * cell). Inputs: vector subdims (vid, sub, dim, v), the coarse
    * assignment (vid, bucket), and centroid subdims keyed by bucket
    * (bucket, sub, dim, cv) — tiny, BROADCAST. Integer 1e-6 units
    * subtract exactly, so the residual chain stays engine-portable end
    * to end. Returns (vid, bucket, sub, dim, v). */
  def residualSubDims(sd: DataFrame, buckets: DataFrame,
      centSub: DataFrame): DataFrame =
    sd.join(buckets, "vid")
      .join(broadcast(centSub), Seq("bucket", "sub", "dim"))
      .select(col("vid"), col("bucket"), col("sub"), col("dim"),
        (col("v") - col("cv")).as("v"))

  /** One Lloyd round per subspace: assign, then recompute each
    * codeword as the per-dimension mean of its members (integral-unit
    * values, mean re-quantized half-up — exact in any summation order).
    * A codeword that loses all members drops out. */
  def retrain(sub: DataFrame, cb: DataFrame): DataFrame = {
    val codes = assign(sub, cb).select("vid", "sub", "cid")
    sub.join(codes, Seq("vid", "sub"))
      .groupBy(col("sub"), col("cid"), col("dim"))
      .agg(floor(avg(col("v")) + 0.5).cast("long").as("cv"))
  }

  /** IVF-PQ search: [[adcTopK]] restricted to each query's IVF bucket
    * — the production composition (coarse quantizer prunes the
    * candidate set, PQ codes price the survivors; raw vectors appear
    * in neither step). `codes` must carry a `bucket` column (the
    * corpus vector's IVF assignment) and `qBuckets` is (qid, bucket).
    * Candidates meet the broadcast per-query distance tables on
    * (bucket, sub, cid) — an equi-join bounded by bucket occupancy,
    * never the corpus. Returns (qid, neighbor_id, adc_d2, rank ≤ k). */
  def adcTopKBucketed(qSub: DataFrame, cb: DataFrame, codes: DataFrame,
      qBuckets: DataFrame, k: Int): DataFrame =
    adc(distanceTables(qSub, cb).join(qBuckets, "qid"), codes,
      Seq("bucket", "sub", "cid"), k)

  /** Exact re-rank of an ADC shortlist — the refine step of a
    * production IVF-PQ search (ADC distances are quantization
    * approximations; the final ranking re-scores the few survivors
    * against their RAW vectors). `shortlist` is (qid, neighbor_id, ...)
    * from [[adcTopK]]/[[adcTopKBucketed]] at k' > k; this fetches raw
    * vectors for shortlist rows only — the corpus scan is one
    * broadcast-probed equi-join on vid (q·k' rows against the corpus,
    * never a second distance scan) — and re-ranks like every exact ANN
    * search ([[Ann.nearest]]). Returns (qid, neighbor_id, cosine,
    * rank ≤ k). */
  def rerankExact(shortlist: DataFrame, queries: DataFrame, corpus: DataFrame,
      k: Int): DataFrame = {
    val pairs = shortlist.select(col("qid"), col("neighbor_id"))
      .join(queries.select(col("qid"), col("qvec")), "qid")
    Ann.nearest(corpus.select(col("vid").as("neighbor_id"), col("vec"))
      .join(broadcast(pairs), "neighbor_id")
      .select(col("qid"), col("neighbor_id"),
        Vectors.cos6(col("qvec"), col("vec")).as("cosine")), "qid", k)
  }

  /** ADC top-k: per-query squared-L2 distance tables against the
    * codebook (q·m·k rows, broadcast), summed over each corpus
    * vector's m codes — the corpus side never touches raw vectors,
    * only the (vid, sub, cid) code table. Self-matches (qid = vid) are
    * excluded. Returns (qid, neighbor_id, adc_d2, rank ≤ k) with
    * (distance asc, id asc) deterministic ranking. */
  def adcTopK(qSub: DataFrame, cb: DataFrame, codes: DataFrame, k: Int): DataFrame =
    adc(distanceTables(qSub, cb), codes, Seq("sub", "cid"), k)

  /** Per-query squared-L2 distance tables (qid, sub, cid, qd2). */
  private def distanceTables(qSub: DataFrame, cb: DataFrame): DataFrame =
    qSub.select(col("vid").as("qid"), col("sub"), col("dim"), col("v"))
      .join(broadcast(cb), Seq("sub", "dim"))
      .groupBy(col("qid"), col("sub"), col("cid"))
      .agg(sum((col("v") - col("cv")) * (col("v") - col("cv"))).as("qd2"))

  /** The ADC scan and ranking shared by [[adcTopK]] and
    * [[adcTopKBucketed]]: codes meet the broadcast tables on `keys`. */
  private def adc(qd: DataFrame, codes: DataFrame, keys: Seq[String],
      k: Int): DataFrame =
    Ranked.topK(codes.join(broadcast(qd), keys)
        .filter(col("qid") =!= col("vid"))
        .groupBy(col("qid"), col("vid"))
        .agg(sum(col("qd2")).as("adc_d2")),
        Seq(col("qid")), Seq(col("adc_d2").asc, col("vid").asc), k)
      .select(col("qid"), col("vid").as("neighbor_id"), col("adc_d2"), col("rank"))
}
