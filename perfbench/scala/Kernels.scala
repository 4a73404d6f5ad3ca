package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Rows per second of the five native Catalyst expressions in
  * `org.apache.spark.sql.graft` / `graft.functions`, each on cached
  * inputs drawn from the run's seed, with whole-stage codegen on and
  * then with both whole-stage and expression codegen off. */
object Kernels {

  private def timeNoop(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def probe(spark: SparkSession, seed: Long): Map[String, Any] = {
    graft.functions.GraftFunctions.register(spark)
    val slots = spark.sparkContext.defaultParallelism
    var salt = seed
    def r: Column = { salt += 1; rand(salt) }
    def rows(n: Long): DataFrame = spark.range(0, n, 1, slots).toDF()
    val words = Seq("the", "a", "soil", "map", "unit", "horizon", "depth", "clay",
      "sand", "silt", "loam", "water", "table", "crop", "yield", "slope")
    val vocab = typedLit(words)
    def word: Column = element_at(vocab, (r * words.size).cast("int") + 1)
    // NFC input: every third word carries a decomposed accent (e + U+0301)
    def sentence(n: Int, accented: Boolean): Column = concat_ws(" ", (0 until n).map { i =>
      if (accented && i % 3 == 0) lit("café") else word }: _*)
    val polyX = typedLit(Array(0L, 400L, 1000L, 1000L, 600L, 1000L, 400L, 0L))
    val polyY = typedLit(Array(0L, 200L, 0L, 600L, 700L, 1000L, 800L, 1000L))
    def vec: Column = array((0 until 64).map(_ => (r - 0.5).cast("float")): _*)

    val inputs: Seq[(String, DataFrame, Column)] = Seq(
      ("cosine_sim", rows(100000).select(vec.as("a"), vec.as("b")), expr("cosine_sim(a, b)")),
      ("rolling_hash", rows(400000).select(sentence(12, accented = false).as("s")),
        expr("rolling_hash(s)")),
      ("point_in_polygon", rows(1000000).select((r * 1100).cast("long").as("x"),
        (r * 1100).cast("long").as("y"), polyX.as("xs"), polyY.as("ys")),
        expr("point_in_polygon(x, y, xs, ys)")),
      ("nfc_normalize", rows(200000).select(sentence(12, accented = true).as("s")),
        expr("nfc_normalize(s)")),
      ("stopword_hits", rows(400000).select(split(sentence(20, accented = false), " ").as("toks")),
        org.apache.spark.sql.graft.StopwordHits.ofColumns(col("toks"), Seq("the", "a", "unit"))))

    val modes = Seq(
      "codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.factoryMode" -> "FALLBACK"),
      "interp" -> Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    val out = inputs.flatMap { case (name, make, k) =>
      val df = make.cache()
      val n = df.count()
      val res = modes.map { case (mode, confs) =>
        confs.foreach { case (key, v) => spark.conf.set(key, v) }
        val q = df.select(k.as("k"))
        timeNoop(q)
        val ts = Seq.fill(3)(timeNoop(q)).sorted
        s"$name.rows_per_s_$mode" -> n / ts(1)
      }
      df.unpersist(blocking = true)
      res
    }
    modes.head._2.foreach { case (key, v) => spark.conf.set(key, v) }
    out.toMap
  }
}
