package graft.ann

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector primitives over Array[Float] embedding columns, as pure
  * Catalyst expression trees (`zip_with`/`aggregate`), so they run
  * codegen'd with no UDF/serialization cost.
  *
  * Elements are cast to double before arithmetic and accumulated
  * left-to-right, making the result deterministic across engines and
  * partitionings. */
object Vectors {

  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine via the native codegen'd [[org.apache.spark.sql.graft.CosineSim]]
    * expression — composing dot/norm above would run three
    * CodegenFallback lambda folds per row. Same left-to-right
    * accumulation, bit-identical results on well-formed input; zero
    * norms yield null instead of an ANSI divide-by-zero error (see
    * the expression's scaladoc). dot/norm remain as the ad-hoc
    * column-combinator forms for uses where a composite expression
    * tree is preferred over the fused native loop. */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.CosineSim.ofColumns(a, b)

  /** The engine-portable score every ANN ranking and probe uses: the
    * cosine rounded half-up at 6 decimals, so a last-ulp difference
    * between two engines' float sums changes no comparison unless it
    * straddles a rounding boundary; callers break ties by id. */
  def cos6(a: Column, b: Column): Column =
    graft.core.Exprs.roundHalfUp(cosine(a, b), 6)

  /** Symmetric per-vector int8 scalar quantization — the 4× embedding
    * storage/bandwidth cut an ANN index takes at corpus scale. scale =
    * max|x|/127; q_i = floor(x_i/scale + 0.5) (the engine-portable
    * half-up form; clamping is unnecessary because |x_i| ≤ max|x|).
    * Zero/empty vectors quantize to all-zero with a null scale.
    * Returns a struct (scale, q) of pure per-row expression arithmetic
    * — no shuffle, and the same IEEE ops in any SQL engine. */
  def quantizeInt8(vec: Column): Column = {
    val dv = transform(vec, x => x.cast("double"))
    val scale = array_max(transform(dv, x => abs(x))) / 127.0
    val q = transform(dv, x =>
      coalesce(floor(x / nullif(scale, lit(0.0)) + 0.5), lit(0.0)).cast("int"))
    struct(nullif(scale, lit(0.0)).as("scale"), q.as("q"))
  }

  /** Reconstruction from [[quantizeInt8]] output: x̂_i = q_i·scale. */
  def dequantizeInt8(qs: Column): Column =
    transform(qs("q"), q => q.cast("double") * coalesce(qs("scale"), lit(0.0)))

  /** Per-group element-wise mean vectors (centroids): explode to
    * (group, dim, value) rows, average per dimension, reassemble in
    * dimension order. One shuffle on (group, dim) — scales with
    * n·d rows, never materializing per-group vector lists. */
  def centroids(df: org.apache.spark.sql.DataFrame, groupCol: String,
      vecCol: String): org.apache.spark.sql.DataFrame =
    df.select(col(groupCol), posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy(col(groupCol), col("dim"))
      .agg(avg(col("v").cast("double")).as("mv"))
      .groupBy(col(groupCol))
      .agg(array_sort(collect_list(struct(col("dim"), col("mv")))).as("pairs"))
      .select(col(groupCol), transform(col("pairs"), p => p("mv")).as("centroid"))
}
