package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.CountMinSketch

/** Frequency-sketch operators (the q9 contract). Cardinality (HLL) and
  * quantile (GK) sketches ride Spark's SQL aggregates directly (q6/q7/
  * q8); Count-Min needs a driver-side query step because SQL exposes
  * only the build aggregate (`count_min_sketch`), not point lookups —
  * the sketch blobs are fixed-size (width·depth longs, ~100 KB at
  * eps=0.001), so collecting them is the bounded dimension-collect
  * convention, exactly how a production reporter queries hot keys. */
object Sketches {

  private def readCms(b: Array[Byte]): CountMinSketch =
    CountMinSketch.readFrom(new java.io.ByteArrayInputStream(b))

  /** Exact top-`topK` heavy hitters of `keyCol` (count desc, key asc —
    * deterministic under ties) with the Count-Min contract gated per
    * key: `within_bound` = est ≥ exact ∧ est ≤ exact + ⌈eps·N⌉ (the
    * one-sided CMS guarantee; N = total counted items), and
    * `merge_exact` = an 8-way shard-partial build merged driver-side
    * estimates EQUAL to the direct single-pass sketch. For CMS that is
    * equality, not a bound: the counter arrays are sums of per-item
    * increments, so same-(eps, confidence, seed) partials merge to
    * bit-identical counters regardless of the shard split — the
    * additivity that lets every executor sketch its partition and
    * combine. Deterministic: fixed data + fixed seed ⇒ fixed counters
    * ⇒ the booleans cannot flake.
    *
    * Plan shape: one partial-agg shuffle + a topK-row global top-k for
    * the truth side; one distributed sketch aggregate each for the
    * direct and the 8-shard builds. Driver work: 9 sketch blobs + topK
    * keys — bounded at any corpus scale.
    *
    * Returns (keyCol, n_exact, within_bound, merge_exact). */
  def cmsHeavyHitters(df: DataFrame, keyCol: String, topK: Int = 20,
      eps: Double = 0.001, confidence: Double = 0.99,
      seed: Int = 42): DataFrame = {
    val s = df.sparkSession
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    // the shard split (pmod) and the driver-side estimateCount(Long)
    // replay both assume an integral key — fail at the API with a
    // clear message instead of a ClassCastException mid-collect
    val keyType = df.schema(keyCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(keyType),
      s"cmsHeavyHitters: key column '$keyCol' must be integral, got $keyType")
    val e = df.filter(col(keyCol).isNotNull)
      .select(col(keyCol).cast("long").as(keyCol))
    val cmsAgg = s"count_min_sketch($keyCol, ${eps}d, ${confidence}d, $seed)"
    val top = e.groupBy(col(keyCol)).agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col(keyCol).asc).limit(topK)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    import s.implicits._
    // empty / all-null input: no heavy hitters, and no sketch blobs to
    // merge (count_min_sketch over zero rows aggregates to NULL —
    // readCms would NPE and shardSks.head would throw); the empty
    // typed frame keeps the output schema identical either way
    if (top.isEmpty)
      return Seq.empty[(Long, Long, Boolean, Boolean)]
        .toDF(keyCol, "n_exact", "within_bound", "merge_exact")
    val direct = e.agg(expr(cmsAgg)).head().getAs[Array[Byte]](0)
    val shardSks = e.withColumn("shard", pmod(col(keyCol), lit(8)))
      .groupBy(col("shard")).agg(expr(cmsAgg).as("sk"))
      .collect().map(_.getAs[Array[Byte]]("sk"))
    val dsk = readCms(direct)
    val msk = readCms(shardSks.head)
    shardSks.tail.foreach(b => msk.mergeInPlace(readCms(b)))
    val slack = math.ceil(eps * dsk.totalCount()).toLong
    val rows = top.toSeq.map { case (k, nx) =>
      val ed = dsk.estimateCount(k)
      (k, nx, ed >= nx && ed <= nx + slack, msk.estimateCount(k) == ed)
    }
    rows.toDF(keyCol, "n_exact", "within_bound", "merge_exact")
  }

  /** KMV (bottom-k / theta-style) set-operation sketches — the leg HLL
    * cannot serve: HLL unions but has no intersection, while a KMV
    * sketch (the k smallest distinct xxhash64 values of a set) supports
    * union AND intersection estimates from k-sized state. For every
    * unordered pair of `setCol` groups with a non-empty exact
    * intersection, emits the exact union/intersection sizes beside
    * three gated booleans:
    *
    *  - `union_ok`: the KMV union estimate (k−1)/τ, τ = the kth
    *    smallest normalized hash of bottom-k(A ∪ B), lands within 15%
    *    of exact (σ ≈ 1/√k ≈ 3.1% at k=1024 → ~5σ; catches estimator
    *    breakage, not the tight bound).
    *  - `inter_ok`: |Ĵ·Û − exact| ≤ 0.10·exact_union, where
    *    Ĵ = |bottom-k(A∪B) ∩ A_k ∩ B_k| / k. Membership via the
    *    bottom-k sets is sound: x ∈ bottom-k(A∪B) ∧ x ∈ A ⟹ at most
    *    k−1 union values are below x, so at most k−1 A-values are ⟹
    *    x ∈ A_k. σ(Ĵ) ≈ √(J(1−J)/k) ≈ 1.6% of union — the 10% slack
    *    is ~6σ.
    *  - `merge_exact`: bottom-k over the concatenation of 8
    *    shard-partial bottom-k sketches EQUALS the direct bottom-k —
    *    exact, not bounded: bottom-k is an order statistic, so
    *    bottom-k(∪ᵢ bottom-k(shardᵢ)) = bottom-k(all). This is the
    *    1000-executor property: every executor keeps k values per set,
    *    partials merge losslessly.
    *
    * Sets with fewer than k distinct elements make the sketch the set
    * itself (estimates exact) — which is why the small gated SFs pass
    * trivially and the larger ones exercise real estimation.
    * FIXTURE DEPENDENCE: like q9's within_bound, the two bounds are
    * high-probability per fixture (deterministic — xxhash64 is
    * seedless), not certainties; a new fixture failing only here is
    * fixture luck before it is an engine bug. merge_exact carries no
    * such caveat.
    *
    * Exact truth is computed on the RAW element (cross-engine
    * replayable); a 64-bit hash collision can therefore shift an
    * estimate by ~n²/2⁶⁵ — absorbed by the bounds. Distributed shape:
    * one distinct shuffle on (set, hash); each bottom-k is a window
    * rank over that same partitioning (no extra shuffle, ≤k rows kept
    * per set); the exact pair table is |sets|² rows. Driver work:
    * |sets|·k longs direct + 8× sharded, plus the pair table — all
    * dimension-bounded.
    *
    * Returns (type_a, type_b, n_union_exact, n_inter_exact, union_ok,
    * inter_ok, merge_exact). */
  def kmvSetOps(df: DataFrame, setCol: String, elemCol: String,
      k: Int = 1024): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val d = df.filter(col(setCol).isNotNull && col(elemCol).isNotNull)
      .select(col(setCol).cast("string").as("g"), col(elemCol).as("e"))
      .distinct()
    // exact truth on raw elements (replayable): per-set sizes + pair
    // intersections; |sets| is a dimension, so both collects are bounded
    val sizes = d.groupBy(col("g")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val inter = d.as("a").join(d.as("b"),
        col("a.e") === col("b.e") && col("a.g") < col("b.g"))
      .groupBy(col("a.g").as("ga"), col("b.g").as("gb"))
      .agg(count(lit(1)).as("ni"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val h = d.select(col("g"), xxhash64(col("e")).as("h")).distinct()
    def bottomK(hashed: org.apache.spark.sql.DataFrame,
        part: Seq[String]): Array[((String, Long), Long)] = {
      Ranked.topK(hashed, part.map(col), Seq(col("h").asc), k, "rn")
        .select(col("g"), col("h"),
          (if (part.contains("shard")) col("shard") else lit(0L)).as("sh"))
        .collect().map(r => ((r.getString(0), r.getLong(2)), r.getLong(1)))
    }
    val directK: Map[String, Array[Long]] = bottomK(h, Seq("g"))
      .groupBy(_._1._1).map { case (g, rs) => g -> rs.map(_._2).sorted }
    val shardK: Map[String, Array[Long]] =
      bottomK(h.withColumn("shard", pmod(col("h"), lit(8))), Seq("g", "shard"))
        .groupBy(_._1._1)
        .map { case (g, rs) => g -> rs.map(_._2).distinct.sorted.take(k) }
    val mergeOk: Map[String, Boolean] = directK.map { case (g, dk) =>
      g -> java.util.Arrays.equals(dk, shardK.getOrElse(g, Array.empty[Long]))
    }
    def norm(x: Long): Double =
      (x.toDouble - Long.MinValue.toDouble) / math.pow(2.0, 64)
    val rows = inter.toSeq.sortBy(_._1).map { case ((ga, gb), ni) =>
      val (a, b) = (directK(ga), directK(gb))
      val (sa, sb) = (a.toSet, b.toSet)
      val mergedK = (a ++ b).distinct.sorted.take(k)
      val nUnion = sizes(ga) + sizes(gb) - ni
      val estU =
        if (mergedK.length < k) mergedK.length.toDouble
        else (k - 1).toDouble / norm(mergedK.last)
      val jHat = mergedK.count(x => sa.contains(x) && sb.contains(x))
        .toDouble / mergedK.length
      val estI = jHat * estU
      (ga, gb, nUnion, ni,
        math.abs(estU - nUnion) <= 0.15 * nUnion,
        math.abs(estI - ni) <= 0.10 * nUnion,
        mergeOk(ga) && mergeOk(gb))
    }
    rows.toDF("type_a", "type_b", "n_union_exact", "n_inter_exact",
      "union_ok", "inter_ok", "merge_exact")
  }
}
