package graft.text

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Materialize

/** Byte-pair-encoding tokenizer TRAINING over a corpus — the
  * vocabulary-learning step of a pretraining pipeline (Sennrich et al.
  * 2016, arXiv:1508.07909; the shape of every production trainer). The
  * only corpus-scale work is ONE aggregation (word counts, map-side
  * partial); every merge round after that runs over the distinct-word
  * table — vocab-sized, broadcast-scale — so pair counting and merge
  * application never touch the corpus again. The per-round top-pair
  * extraction is a bounded one-row collect (the merge rule IS the
  * training artifact and is inherently sequential; k rounds = k tiny
  * jobs over the vocab, the same driver-loop shape as Lloyd rounds in
  * [[graft.ann.Ann.kmeansRounds]]).
  *
  * Determinism: pair counts are exact longs weighted by corpus word
  * frequency; the winning pair tiebreaks on (count desc, left asc,
  * right asc); merge application is a greedy left-to-right fold with
  * exact last-token matching — all replayable in ANSI SQL (the t23
  * oracle drives DuckDB's list_reduce through the identical fold).
  *
  * The fold trick: symbols are space-joined strings ("k e y"); merging
  * rule (l, r) at the accumulator boundary is `acc || x` exactly when
  * x = r and the accumulator's LAST token = l (append without the
  * separator concatenates l and r into one token). Greedy non-overlap
  * falls out: the merged token no longer equals l, so a chain "a a a"
  * under (a,a) yields "aa a", matching reference BPE apply order. */
object BpeTrain {

  /** One learned merge: `left`+`right` → `merged` with its pair count
    * at learn time. `round` is 1-based. */
  final case class Merge(round: Int, left: String, right: String,
      merged: String, n: Long)

  /** Corpus → (w, n) word-frequency table: the one corpus-scale
    * shuffle of BPE training (empty tokens dropped). */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextAnalysis.tokens(col(textCol))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("n"))

  /** Space-joined character sequence of a word ("key" → "k e y") —
    * the initial symbol segmentation. */
  def charSeq(w: Column): Column = trim(regexp_replace(w, "(.)", "$1 "))

  /** Adjacent-pair frequency table (l, r, pn) of a (seq, n) form
    * table; pairs weighted by word count, overlapping occurrences
    * each counted (the reference trainer's accounting). Codegen-clean:
    * index explode + element_at, no array lambdas. */
  def pairCounts(forms: DataFrame): DataFrame =
    forms.select(col("n"), split(col("seq"), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("n"), col("t"),
        explode(sequence(lit(1), size(col("t")) - 1)).as("i"))
      .select(element_at(col("t"), col("i")).as("l"),
        element_at(col("t"), col("i") + 1).as("r"), col("n"))
      .groupBy(col("l"), col("r")).agg(sum(col("n")).as("pn"))

  /** Applies merge rule (l, r) to a space-joined symbol sequence:
    * greedy left-to-right, exact last-token match. The aggregate HOF
    * is CodegenFallback — acceptable ONLY because it runs over the
    * vocab-sized form table, never the corpus (documented contract). */
  def applyMerge(seq: Column, l: String, r: String): Column =
    aggregate(split(seq, " "), lit(""), (acc, x) =>
      when(x === lit(r) && (acc === lit(l) || endswith(acc, lit(" " + l))),
        concat(acc, x))
        .when(acc === lit(""), x)
        .otherwise(concat(acc, lit(" "), x)))

  /** Learns `rounds` merges from a (w, n) word-count table. Each round
    * collects exactly one row (the argmax pair) — bounded driver data;
    * the form table re-checkpoints per round to keep lineage flat.
    * Stops early if no pair remains (fully merged vocab). */
  def train(words: DataFrame, rounds: Int): Seq[Merge] = {
    var forms = Materialize.checkpoint(
      words.select(charSeq(col("w")).as("seq"), col("n")), eager = false)
    val out = ArrayBuffer.empty[Merge]
    var round = 1
    var done = false
    while (round <= rounds && !done) {
      val top = pairCounts(forms)
        .orderBy(col("pn").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (l, r, pn) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        out += Merge(round, l, r, l + r, pn)
        forms = Materialize.checkpoint(
          forms.select(applyMerge(col("seq"), l, r).as("seq"), col("n")), eager = false)
        round += 1
      }
    }
    out.toSeq
  }

  /** Re-segments a (w, n) vocab under an ordered merge list: the
    * ENCODE side at training-pipeline scale — cost ∝ distinct words
    * (each merge is one fold over the vocab table), after which the
    * corpus meets the result by broadcast join, never a per-document
    * scan. Returns (w, seq, n_sub) with n_sub = BPE token count. */
  def encodeVocab(words: DataFrame, merges: Seq[Merge]): DataFrame = {
    val seq0 = words.select(col("w"), charSeq(col("w")).as("seq"))
    val seqd = merges.foldLeft(seq0) { (df, m) =>
      df.select(col("w"), applyMerge(col("seq"), m.left, m.right).as("seq"))
    }
    seqd.select(col("w"), col("seq"),
      size(split(col("seq"), " ")).cast("long").as("n_sub"))
  }

  /** Exact per-document token count under a trained BPE vocabulary:
    * corpus tokens broadcast-join the encoded vocab (n_sub per word)
    * and sum per doc — the real-tokenizer accounting that replaces the
    * t06 regex heuristic once a vocab is trained. One corpus shuffle
    * (the per-doc sum); the vocab side is broadcast. */
  def bpeTokenCount(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[Merge]): DataFrame = {
    val vocab = encodeVocab(wordCounts(docs, textCol), merges)
      .select(col("w"), col("n_sub"))
    docs.select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("w"))
      .filter(col("w") =!= "")
      .join(broadcast(vocab), "w")
      .groupBy(col(idCol))
      .agg(sum(col("n_sub")).as("n_bpe_tokens"))
  }
}
