package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Materialize

import graft.core.Ranked

/** Text-analysis operators for large-scale training-data pipelines
  * (builder mandate; not present in the reference, which is tabular
  * only). All are pure Catalyst expression trees over a text column —
  * no UDFs, fully codegen'd, shuffle-free (per-row). */
object TextAnalysis {

  /** Tiny per-language stopword lists for the n-gram/stopword heuristic
    * language ID. Order of `langs` is the tie-break priority. */
  val langs: Seq[String] = Seq("en", "es", "de", "fr", "zh")
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "on", "for"),
    "es" -> Seq("el", "la", "de", "que", "los", "en", "un", "por", "con", "una"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "zu", "mit", "den", "von"),
    "fr" -> Seq("le", "les", "et", "des", "un", "est", "dans", "du", "une", "au"),
    "zh" -> Seq("的", "是", "在", "了", "我", "有", "和", "不", "人", "这"))

  /** Whitespace tokenizer (lowercased). */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Occurrences of any of `stops` in the token array — the native
    * codegen'd [[org.apache.spark.sql.graft.StopwordHits]] expression
    * (the size/filter/array_contains HOF composition it replaces is
    * CodegenFallback and interprets three lambdas per row). */
  def stopwordHits(toks: Column, stops: Seq[String]): Column =
    org.apache.spark.sql.graft.StopwordHits.ofColumns(toks, stops)

  /** Language ID: argmax of stopword hits with fixed priority on ties;
    * 'und' when nothing matches. */
  def langId(text: Column): Column = {
    val t = tokens(text)
    val scores = langs.map(l => l -> stopwordHits(t, stopwords(l)))
    val mx = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und")) { case ((l, s), acc) =>
      when(mx > 0 && s === mx, lit(l)).otherwise(acc)
    }
  }

  /** Punctuation character count (chars removed by stripping the class). */
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[.!?,;:]", ""))

  /** Document quality score in [0,1]: length credit × punctuation
    * penalty × stopword-density credit. Deterministic integer inputs →
    * bit-stable across engines. */
  def qualityScore(text: Column): Column = {
    val nw = tokenCount(text).cast("double")
    val np = punctCount(text).cast("double")
    val stop = stopwordHits(tokens(text), stopwords("en")).cast("double")
    val lenCredit = least(nw, lit(100.0)) / 100.0
    val punctPenalty = lit(1.0) - np / greatest(length(text), lit(1)).cast("double")
    val stopCredit = lit(0.5) + lit(0.5) * least(stop * 5.0 / greatest(nw, lit(1.0)), lit(1.0))
    floor(lenCredit * punctPenalty * stopCredit * 1e4 + 0.5) / 1e4
  }

  /** Unicode NFC canonical normalization — the native codegen'd
    * [[org.apache.spark.sql.graft.NfcNormalize]] expression (ASCII
    * rows pass through allocation-free; see its scaladoc for the
    * cross-engine parity contract with utf8proc). */
  def nfc(text: Column): Column =
    org.apache.spark.sql.graft.NfcNormalize.ofColumn(text)

  /** Full text-normalization pass of a corpus pipeline: NFC
    * composition, C0 control / DEL stripping (tab and newline
    * survive as whitespace), then whitespace-run collapse to single
    * spaces with outer trim. Pure per-row expressions (regex classes
    * chosen with identical semantics under Java regex and RE2) — the
    * canonical form fed to tokenization, dedup shingling, and
    * fingerprints downstream. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(nfc(text),
        "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""),
      "[ \\t\\r\\n]+", " "))

  /** Canonical content fingerprint: md5 over the sorted distinct token
    * set — robust to token order / duplication. */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(text)))))

  /** BPE-ish subword segmentation count: alphabetic runs, digit runs,
    * and single punctuation marks each count as one token (the
    * pre-tokenization regex most BPE tokenizers apply). */
  val bpePattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  def tokenCountBpe(text: Column): Column =
    size(regexp_extract_all(lower(text), lit(bpePattern), lit(0)))

  /** Corpus vocabulary: top-k tokens by frequency (count desc, token
    * asc tiebreak — fully deterministic). The plan is explode → one
    * partial-aggregating hash shuffle → TakeOrderedAndProject: the k
    * winners are merged per-partition, never a global sort of the
    * vocabulary. */
  def vocabTopK(docs: DataFrame, textCol: String, k: Int): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc).limit(k)

  /** Per-document PII signal counts — the scrubbing/redaction triage
    * stage of a corpus pipeline: email-shaped tokens (@ and .),
    * URL-shaped tokens (http prefix), phone-shaped tokens (≥ 7 digit
    * characters). Token-level heuristics kept to operations with
    * identical semantics in any engine (substring containment, prefix,
    * digit-class strip) — deliberately NOT a full RFC-address regex,
    * whose dialect varies by engine. Plan: explode once, conditional
    * sums in one partial-aggregating shuffle on doc id. */
  def piiSignals(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), explode(tokens(col(textCol))).as("t"))
      .groupBy(col(idCol)).agg(
        sum(when(col("t").contains("@") && col("t").contains("."), 1L)
          .otherwise(0L)).as("n_email"),
        sum(when(col("t").startsWith("http"), 1L).otherwise(0L)).as("n_url"),
        sum(when(length(regexp_replace(col("t"), "[^0-9]", "")) >= 7, 1L)
          .otherwise(0L)).as("n_phone"))
      .withColumn("has_pii", col("n_email") + col("n_url") + col("n_phone") > 0)

  /** Redaction rules driving [[redact]] — one (token pattern,
    * replacement marker) per [[piiSignals]] heuristic, in application
    * order (email → url → phone; a token matching several classes gets
    * the first). Tokens are `\S+` runs anchored at `(^|\s)` — no
    * lookbehind, so the patterns run identically under Java regex
    * (Spark) and RE2 (DuckDB, which has no lookarounds); boundary
    * parity incl. adjacent PII tokens is pinned by the t15 oracle.
    * The SQL twin [[redactSql]] splices this same list — keep them in
    * lockstep by construction. */
  val redactRules: Seq[(String, String)] = Seq(
    "(^|\\s)(\\S*@\\S*\\.\\S*|\\S*\\.\\S*@\\S*)" -> "<EMAIL>",
    "(^|\\s)([hH][tT][tT][pP]\\S*)" -> "<URL>",
    "(^|\\s)((?:[^\\s0-9]*[0-9]){7}\\S*)" -> "<PHONE>")

  /** PII redaction transform — the scrub stage paired with the
    * [[piiSignals]] triage: every token the triage would count is
    * replaced wholesale by its class marker, whitespace and ambient
    * text preserved bit-identically. Pure regexp_replace chain — stays
    * in whole-stage codegen, no shuffle. */
  def redact(text: Column): Column =
    redactRules.foldLeft(text) { case (c, (p, r)) =>
      regexp_replace(c, p, "$1" + r) }

  /** DuckDB twin of [[redact]] over `colName` (RE2 spelling: \1
    * backreference, explicit 'g' flag). */
  def redactSql(colName: String): String =
    redactRules.foldLeft(colName) { case (e, (p, r)) =>
      s"regexp_replace($e, '$p', '\\1$r', 'g')" }

  /** Per-document top-k TF-IDF terms — the keyword-extraction /
    * salient-term primitive of a corpus pipeline. IDF is the
    * integer-scaled linear variant idf_q = (N·10⁴) div df (BIGINT
    * division, bit-identical in any engine; a log() idf would hash-gate
    * on libm rounding). score = tf · idf_q; rank is (score desc, term
    * asc) — fully deterministic. Plan: explode → (doc, term) partial
    * agg → term-keyed doc-frequency agg → join back → per-doc top-k
    * window (partitioned by doc id, never a global sort; the one-row
    * corpus count is a broadcast). */
  def tfIdfTopK(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    // tf feeds BOTH the doc-frequency aggregate and the score join —
    // unmaterialized, the corpus tokenize+aggregate (the dominant cost)
    // runs twice (plan-verified). Lazy localCheckpoint computes it once
    // at first action; same tradeoff as the simhash lanes.
    val tf = Materialize.checkpoint(
      docs.select(col(idCol), explode(tokens(col(textCol))).as("term"))
        .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf")),
      eager = false)
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).as("n_total"))
    Ranked.topK(tf.join(dfreq, "term").crossJoin(broadcast(total))
        .withColumn("score", col("tf") * expr("(n_total * 10000) div df")),
        Seq(col(idCol)), Seq(col("score").desc, col("term").asc), k)
      .select(col(idCol), col("term"), col("tf"), col("df"), col("score"), col("rank"))
  }

  /** Model-based quality filtering — the linear-classifier curation
    * step (the FineWeb-Edu-style "train a small classifier, score the
    * corpus, keep above threshold" pass). The model is a broadcast
    * weight TABLE (feature, w) — the trained artifact arrives as data,
    * not code — applied to integer document features; logit = bias +
    * Σ w·f in pure integer arithmetic. No sigmoid: it is monotone, so
    * thresholding the logit makes the identical keep decision and
    * stays engine-exact (a transcendental would hash-gate on libm).
    * Features absent from the weight table contribute nothing (sparse
    * model, inner join). Plan: per-row feature extraction → explode to
    * (id, feature, f) → broadcast-join weights → one partial-agg
    * rollup per doc; the corpus never shuffles against the model. */
  def linearClassifierScore(docs: DataFrame, idCol: String, textCol: String,
      weights: DataFrame, bias: Long): DataFrame = {
    val t = tokens(col(textCol))
    val feats = docs.select(col(idCol),
      tokenCount(col(textCol)).cast("long").as("n_words"),
      punctCount(col(textCol)).cast("long").as("n_punct"),
      stopwordHits(t, stopwords("en")).cast("long").as("n_stop"),
      size(array_distinct(t)).cast("long").as("n_distinct"),
      length(col(textCol)).cast("long").as("n_chars"))
    val unpiv = feats.select(col(idCol), explode(map(
      lit("n_words"), col("n_words"), lit("n_punct"), col("n_punct"),
      lit("n_stop"), col("n_stop"), lit("n_distinct"), col("n_distinct"),
      lit("n_chars"), col("n_chars"))).as(Seq("feature", "f")))
    unpiv.join(broadcast(weights), "feature")
      .groupBy(col(idCol))
      .agg((sum(col("w") * col("f")) + lit(bias)).as("logit"))
      .withColumn("keep", col("logit") >= 0)
  }

  /** Unigram-LM quality score (the CCNet/Wikipedia-LM filter shape,
    * made engine-portable): train corpus-wide unigram occurrence
    * counts, score each document by the mean frequency BUCKET of its
    * tokens — bucket(n) = floor(log2 n)+1 computed as the binary
    * digit count, so the whole score is INTEGER arithmetic and any
    * ANSI engine reproduces it bit-for-bit (a float log would drift
    * at the last ulp across engines). Low scores = rare-token
    * gibberish, the docs an LM filter drops. score_e4 = mean bucket
    * ×1e4, floored.
    *
    * Scale: the count table is vocab-sized (Zipf — orders smaller
    * than the corpus), so the score join broadcasts; the only full
    * shuffle is the unigram count itself, which partial-aggregates
    * map-side. */
  def lmFrequencyScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = docs.select(col(idCol).as("did"),
      explode(tokens(col(textCol))).as("tok"))
    val counts = tok.groupBy(col("tok")).agg(count(lit(1)).as("n"))
    tok.join(counts, "tok")
      .groupBy(col("did"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(length(conv(col("n"), 10, 2)).cast("long")).as("sb"))
      .select(col("did").as(idCol), col("n_tokens"),
        expr("sb * 10000 div n_tokens").as("score_e4"))
  }

  /** DSIR-style importance scoring (Xie et al. 2023 — data selection
    * via importance resampling): score each document by how much more
    * likely its n-gram features are under a TARGET domain's feature
    * distribution than under the raw corpus's, here in engine-portable
    * integer form — the normalized log-ratio log(p_t(f)/p_r(f)) =
    * (log n_t(f) − log N_t) − (log n_r(f) − log N_r) as bitlen
    * differences: weight(f) = bitlen(n_t(f)) − bitlen(n_r(f)) +
    * bitlen(N_r) − bitlen(N_t), where N_r/N_t are the distributions'
    * total feature occurrences and bitlen = binary digit count =
    * floor(log2)+1 with bitlen(0) = 0 (the t33 idiom; a float
    * log-ratio would drift at the last ulp across engines), summed
    * over the doc's bigram occurrences with multiplicity. The
    * bitlen(N_r) − bitlen(N_t) term is the per-occurrence constant
    * that makes the two counts comparable — without it n_t ≤ n_r
    * always (target ⊆ corpus) and a positive score is unreachable.
    * Positive scores read "target-like"; `keep` is the ≥ 0 selection.
    * Docs with fewer than two tokens have no features and emit no row
    * (both engines, consistently).
    *
    * Scale: every shuffle carries the 64-bit xxhash64 DIGEST of the
    * bigram, never the string (the d-family digest-level pattern —
    * measured ~2× on the 100× corpus); a digest collision would merge
    * two features' counts, vanishing at any real feature-space size
    * (~|V|²/2⁶⁴) and deterministic for fixed inputs. Counts
    * partial-aggregate map-side into a vocab-sized table; the score
    * join is a plain equi-join on the digest, and the per-doc rollup
    * is the only other shuffle. isTarget is any row predicate over
    * `docs` (the hand-labeled target sample of DSIR). */
  def dsirScore(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column): DataFrame = {
    val base = docs
      .select(col(idCol).as("did"), isTarget.as("is_t"),
        tokens(col(textCol)).as("t"))
      .filter(size(col("t")) >= 2)
    val feats = base.select(col("did"), col("is_t"),
      explode(transform(sequence(lit(1), size(col("t")) - 1),
        i => xxhash64(concat_ws(" ", element_at(col("t"), i),
          element_at(col("t"), i + 1))))).as("f"))
    // BOTH count tables in one aggregation over one scan (raw count +
    // target-flag conditional count) — separate rawC/tgtC aggregates
    // re-derived the tokenize/explode subtree a third time and paid a
    // second count join (measured ~1.5× on the 100× corpus)
    // checkpointed because TWO consumers read it (the totals broadcast
    // and the score join) — unmaterialized, each re-derives the
    // tokenize/explode/agg subtree, i.e. a whole extra corpus scan (the
    // r8 0.78→1.61 s regression). The blocks are vocab-sized (Zipf —
    // orders smaller than the corpus), so they hold at scale; unlike a
    // Dataset cache they leave no session-wide entry behind.
    val cnt = Materialize.checkpoint(
      feats.groupBy(col("f")).agg(count(lit(1)).as("nr"),
        sum(when(col("is_t"), 1L).otherwise(0L)).as("nt")),
      eager = false)
    // distribution totals N_r / N_t — one broadcast one-row aggregate
    // over the vocab-sized count table (never a second corpus scan)
    val tot = cnt.agg(sum(col("nr")).as("tnr"), sum(col("nt")).as("tnt"))
    feats.join(cnt, "f").crossJoin(broadcast(tot))
      .withColumn("wgt",
        when(col("nt") > 0, length(conv(col("nt"), 10, 2)).cast("long"))
          .otherwise(0L)
          - length(conv(col("nr"), 10, 2)).cast("long")
          + length(conv(col("tnr"), 10, 2)).cast("long")
          - when(col("tnt") > 0, length(conv(col("tnt"), 10, 2)).cast("long"))
              .otherwise(0L))
      .groupBy(col("did"))
      .agg(count(lit(1)).as("n_feats"), sum(col("wgt")).as("score"))
      .select(col("did").as(idCol), col("n_feats"), col("score"),
        (col("score") >= 0).as("keep"))
  }

  /** The default t31 query battery (terms from the driver documents'
    * generative vocabulary) — a shared constant so the Spark plan and
    * the SQL oracle consume the identical query set. */
  val defaultQueries: Seq[(String, Seq[String])] = Seq(
    "q1" -> Seq("join", "hash", "scan"),
    "q2" -> Seq("window", "filter", "sort"),
    "q3" -> Seq("spark", "table", "merge"),
    "q4" -> Seq("vector", "batch", "stream"),
    "q5" -> Seq("slow", "fast", "data"))

  /** Query-driven top-k keyword retrieval — the deterministic BM25
    * stand-in (the RAG/eval-retrieval op a curation pipeline runs over
    * its corpus; reference analogy: the attribute-name search box of
    * the SDV dialog, gSSURGO_CreateSoilMap.py:3590-3610, scaled to
    * free text). score(q, d) = Σ_{t∈q} tf(d,t) · idf_int(t) with the
    * t13 integer idf (N·10⁴ div df — log-free: a log() idf would
    * hash-gate on libm last-ulp rounding; idf only needs to be
    * monotone in df for ranking). Ranking is (score DESC, doc id ASC),
    * fully deterministic.
    *
    * Plan at scale: the query set is a broadcast literal; candidates
    * are the UNION OF POSTING LISTS of the query terms (inner join tf
    * ⋈ queries — the corpus is never scanned per query); the per-query
    * top-k runs in two stages (partition-local prune to k, then the
    * global rank over ≤ k·partitions survivors) so a hot term's
    * posting list never funnels through one partition's full sort. */
  def keywordSearch(docs: DataFrame, idCol: String, textCol: String,
      queries: Seq[(String, Seq[String])], k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val tf = Materialize.checkpoint( // feeds df-agg AND the score join
      docs.select(col(idCol), explode(tokens(col(textCol))).as("term"))
        .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf")),
      eager = false)
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).as("n_total"))
    val qt = queries.flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("query_id", "term")
    val cand = tf.join(dfreq, "term").join(broadcast(qt), "term")
      .crossJoin(broadcast(total))
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(col("tf") * expr("(n_total * 10000) div df")).as("score"))
    val order = Seq(col("score").desc, col(idCol).asc)
    val pre = Ranked.topK(cand, Seq(col("query_id"), spark_partition_id()), order, k, "_p")
      .drop("_p")
    Ranked.topK(pre, Seq(col("query_id")), order, k)
      .select(col("query_id"), col(idCol), col("score"), col("rank"))
  }

  /** C4-style line-level quality filtering: each line (blank-line
    * paragraph) keeps or drops on per-line rules — minimum token count
    * and a minimum distinct-token fraction (the line-local repetition
    * screen) — and the document keeps when at least half its lines
    * survive. Thresholds compare as integer cross-products (d·10 ≥ n·6,
    * kept·2 ≥ lines), never float ratios, so the cut is engine-exact.
    * Per-line metrics are per-row array ops (no shuffle); the only
    * shuffle is the partial-aggregating per-doc rollup.
    * Returns (did, n_lines, n_kept, kept_frac, keep_doc). */
  def lineQualityStats(docs: DataFrame, idCol: String, textCol: String,
      minTokens: Int = 8): DataFrame = {
    val lines = graft.dedup.Dedup.paragraphs(docs, idCol, textCol)
    val t = tokens(col("ptext"))
    val keepLine = (size(t) >= minTokens) &&
      (size(array_distinct(t)).cast("long") * 10 >= size(t).cast("long") * 6)
    lines
      .withColumn("k", when(keepLine, 1L).otherwise(0L))
      .groupBy(col("did")).agg(
        count(lit(1)).as("n_lines"), sum(col("k")).as("n_kept"))
      .select(col("did"), col("n_lines"), col("n_kept"),
        graft.core.Exprs.roundHalfUp(
          col("n_kept").cast("double") / col("n_lines"), 4).as("kept_frac"),
        (col("n_kept") * 2 >= col("n_lines")).as("keep_doc"))
  }

  /** Gopher-style document quality rule battery (Rae et al. 2021 §A1.1,
    * adapted to engine-exact arithmetic): per-document word, line, and
    * symbol statistics with one boolean flag per rule plus the combined
    * keep decision. Every ratio threshold compares as an integer
    * cross-product (e.g. mean word length in [3, 10] is
    * 3·nw ≤ chars ≤ 10·nw), never a float ratio — the cut is exact in
    * any engine. Lines are the blank-line segments of
    * [[graft.dedup.Dedup.paragraphs]] (the repo's line convention).
    *
    * Rules: word count in [minWords, maxWords]; mean word length in
    * [3, 10]; symbol-to-word ratio ('#' chars + non-terminal '...'
    * runs) ≤ 1/10; ≥ 4/5 of words contain an alphabetic character;
    * ≤ 9/10 of lines start with a bullet; ≤ 3/10 of lines end in an
    * ellipsis; ≥ 2 English stopword hits.
    *
    * Plan: one token explode with a partial-aggregating per-doc rollup
    * (word stats), one line explode with its own rollup (line stats),
    * and per-row expression arithmetic on the doc itself (symbols,
    * stopword hits via the native codegen'd StopwordHits) — three
    * shuffle-light aggregates joined back on the doc id; no windows,
    * no HOF lambdas, no sort. */
  def gopherStats(docs: DataFrame, idCol: String, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val wordAgg = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("t"))
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("n_words"),
        sum(when(col("t").rlike("[a-z]"), 1L).otherwise(0L)).as("n_alpha_words"))
    val lines = graft.dedup.Dedup.paragraphs(docs, idCol, textCol)
    val lt = trim(col("ptext"))
    val lineAgg = lines.groupBy(col("did").as(idCol)).agg(
      count(lit(1)).as("n_lines"),
      sum(when(lt.startsWith("- ") || lt.startsWith("* ") ||
        lt.startsWith("• "), 1L).otherwise(0L)).as("n_bullet_lines"),
      sum(when(lt.endsWith("..."), 1L).otherwise(0L)).as("n_ellipsis_lines"))
    val txt = col(textCol)
    val base = docs.select(col(idCol),
      // word chars without a second explode: strip ALL whitespace
      length(regexp_replace(lower(trim(txt)), "\\s+", "")).cast("long").as("n_word_chars"),
      (length(txt) - length(translate(txt, "#", "")) +
        (length(txt) - length(expr(s"replace($textCol, '...', '')"))) / 3)
        .cast("long").as("n_symbols"),
      stopwordHits(tokens(txt), stopwords("en")).cast("long").as("n_stop_hits"))
    val j = base
      .join(wordAgg, Seq(idCol), "left")
      .join(lineAgg, Seq(idCol), "left")
      .na.fill(0L, Seq("n_words", "n_alpha_words", "n_lines",
        "n_bullet_lines", "n_ellipsis_lines"))
    val okWords = col("n_words") >= minWords && col("n_words") <= maxWords
    val okMeanLen = lit(3L) * col("n_words") <= col("n_word_chars") &&
      col("n_word_chars") <= lit(10L) * col("n_words")
    val okSymbol = lit(10L) * col("n_symbols") <= col("n_words")
    val okAlpha = lit(5L) * col("n_alpha_words") >= lit(4L) * col("n_words")
    val okBullet = lit(10L) * col("n_bullet_lines") <= lit(9L) * col("n_lines")
    val okEllipsis = lit(10L) * col("n_ellipsis_lines") <= lit(3L) * col("n_lines")
    val okStop = col("n_stop_hits") >= 2L
    j.select(col(idCol), col("n_words"), col("n_word_chars"),
      col("n_alpha_words"), col("n_stop_hits"), col("n_symbols"),
      col("n_lines"), col("n_bullet_lines"), col("n_ellipsis_lines"),
      okWords.as("ok_words"), okMeanLen.as("ok_mean_len"),
      okSymbol.as("ok_symbol"), okAlpha.as("ok_alpha"),
      okBullet.as("ok_bullet"), okEllipsis.as("ok_ellipsis"),
      okStop.as("ok_stop"),
      (okWords && okMeanLen && okSymbol && okAlpha && okBullet &&
        okEllipsis && okStop).as("keep"))
  }

  /** Gopher-style repetition metrics per document: token count,
    * distinct-token count, duplicate-token fraction
    * (1 − distinct/total) and top-token fraction (mode count / total) —
    * the standard "excessive repetition" quality filters. Plan: explode
    * once, two partial-aggregating shuffles ((id, token) then id) —
    * never a per-document array traversal in interpreted HOFs, never a
    * sort. Fractions are integer ratios rounded half-up at scale 4 on
    * both engine sides. */
  def repetitionMetrics(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val perTok = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("t"))
      .groupBy(col(idCol), col("t")).agg(count(lit(1)).as("c"))
    perTok.groupBy(col(idCol)).agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_n"))
      .select(col(idCol), col("n_tokens"), col("n_distinct"), col("top_n"),
        graft.core.Exprs.roundHalfUp(
          lit(1.0) - col("n_distinct").cast("double") / col("n_tokens"), 4).as("dup_frac"),
        graft.core.Exprs.roundHalfUp(
          col("top_n").cast("double") / col("n_tokens"), 4).as("top_frac"))
  }
}
