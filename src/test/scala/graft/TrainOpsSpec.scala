package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.functions.GraftFunctions
import graft.text.TextAnalysis
import graft.validate.Validate

/** Unit tests for the training-data operators and validation checks. */
class TrainOpsSpec extends AnyFunSuite {
  import TestSpark._

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private def docs = df(docSchema, Seq(
    Row(1L, "the quick brown fox jumps over the lazy dog"),
    Row(2L, "the quick brown fox jumps over the lazy cat"),
    Row(3L, "completely different content about spark engines"),
    Row(4L, "the quick brown fox jumps over the lazy dog")))

  test("maximalRepeatPairs: planted runs merge to exact maximal spans, diagonals separate") {
    // w = 3 keeps the fixture readable; token streams are digits so
    // every window is unambiguous. doc 1 carries "a b c d e" (5-token
    // span); doc 2 embeds it once; doc 3 embeds it TWICE (two
    // diagonals → two rows, not one widened run) plus nothing else
    // shared; doc 4 shares only a 2-token overlap (below w) → no row.
    val fixture = df(docSchema, Seq(
      Row(1L, "a b c d e x1 y1 z1 w1"),
      Row(2L, "p q a b c d e r s"),
      Row(3L, "a b c d e m n a b c d e"),
      Row(4L, "d e only two shared tokens here")))
    val got = graft.dedup.Dedup.maximalRepeatPairs(fixture, "doc_id", "text", w = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got === Set(
      (1L, 2L, 1L, 3L, 5L),   // "a b c d e" at doc1[1] == doc2[3]
      (1L, 3L, 1L, 1L, 5L),   // first embed, diagonal 0
      (1L, 3L, 1L, 8L, 5L),   // second embed, its own diagonal
      (2L, 3L, 3L, 1L, 5L),
      (2L, 3L, 3L, 8L, 5L)))
  }

  test("maximalRepeatPairsIncremental == full run-merge restricted to batch-touching pairs") {
    val fixture = df(docSchema, Seq(
      Row(1L, "a b c d e x1 y1 z1 w1"),
      Row(2L, "p q a b c d e r s"),
      Row(11L, "a b c d e m n a b c d e"),
      Row(12L, "d e only two shared tokens here")))
    val corpus = fixture.filter(col("doc_id") < 10L)
    val batch = fixture.filter(col("doc_id") >= 10L)
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    val inc = rows(graft.dedup.Dedup
      .maximalRepeatPairsIncremental(batch, corpus, "doc_id", "text", w = 3))
    val full = rows(graft.dedup.Dedup
      .maximalRepeatPairs(fixture, "doc_id", "text", w = 3)
      .filter(col("doc_a") >= 10L || col("doc_b") >= 10L))
    assert(inc === full)
    assert(inc.nonEmpty)
    // the corpus-resident (1, 2) run exists in the full output but must
    // never surface through the incremental probe
    assert(rows(graft.dedup.Dedup.maximalRepeatPairs(fixture, "doc_id", "text", w = 3))
      .exists(r => r._1 == 1L && r._2 == 2L))
  }

  test("removeRepeatRuns: first occurrence wins, token counts drop by exactly the cut spans") {
    // docs 1 < 2 < 3 share "a b c d e" (5 tokens, w=3): doc 1 keeps it,
    // docs 2 and 3 lose exactly those 5 tokens; doc 3 ALSO shares
    // "f g h i" (4 tokens) with doc 2 only — doc 2 keeps that one
    // (first occurrence among its holders), doc 3 loses 5 + 4 = 9.
    // Doc 4 shares nothing ≥ w and must come through untouched.
    val fixture = df(docSchema, Seq(
      Row(1L, "a b c d e u1 v1 w1"),
      Row(2L, "u2 a b c d e f g h i"),
      Row(3L, "f g h i u3 a b c d e"),
      Row(4L, "nothing shared here at all")))
    val runs = Dedup.maximalRepeatPairs(fixture, "doc_id", "text", w = 3)
    val got = Dedup.removeRepeatRuns(fixture, runs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) === ((8L, 8L, "a b c d e u1 v1 w1")))     // keeper untouched
    assert(got(2L) === ((10L, 5L, "u2 f g h i")))            // span A cut, span B kept
    assert(got(3L) === ((10L, 1L, "u3")))                    // both spans cut
    assert(got(4L) === ((5L, 5L, "nothing shared here at all")))
    // conservation: every doc's drop equals the union of its cut ranges
    assert(got.values.forall { case (b, a, t) =>
      a == t.split("\\s+").count(_.nonEmpty) || (a == 1 && t.nonEmpty) })
  }

  test("removeRepeatRuns converges: the cleaned corpus has no cross-doc runs left") {
    // find→act→re-find: after excising later occurrences, a second
    // maximalRepeatPairs pass over the REBUILT texts must come up
    // empty — the cut really removed every shared span (keepers hold
    // the only remaining copy). Chain fixture: docs 1<2<3 share one
    // span, 2<3 share another, 4 is untouched — cuts overlap and
    // chain, and the rebuilt text is fed back through the finder.
    val fixture = df(docSchema, Seq(
      Row(1L, "a b c d e u1 v1 w1"),
      Row(2L, "u2 a b c d e f g h i"),
      Row(3L, "f g h i u3 a b c d e"),
      Row(4L, "nothing shared here at all")))
    val runs = Dedup.maximalRepeatPairs(fixture, "doc_id", "text", w = 3)
    val cleaned = Dedup.removeRepeatRuns(fixture, runs, "doc_id", "text")
      .select(col("doc_id"), col("text_clean").as("text"))
    val again = Dedup.maximalRepeatPairs(cleaned, "doc_id", "text", w = 3)
    assert(again.count() === 0L,
      s"cleaned corpus still has runs: ${again.collect().mkString(", ")}")
    // and the keepers' spans are intact: doc 1 still contains span A,
    // doc 2 still contains span B
    val byId = cleaned.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId(1L).contains("a b c d e"))
    assert(byId(2L).contains("f g h i"))
  }

  test("anchor-frequency cap: planted boilerplate bounds match volume to linear, rare spans still anchor") {
    // 220 docs share one 3-token boilerplate window (license-header
    // shape); each otherwise unique. Uncapped, that ONE window fans to
    // C(220,2) = 24,090 quadratic pairs — the 100 TB cliff. Capped at
    // maxDf=50 it is dropped as an anchor and the output is empty,
    // while a rare 4-token span planted in just two docs still pairs.
    val boiler = (1L to 220L).map(i => Row(i, s"b1 b2 b3 u${i}a u${i}b"))
    val rare = Seq(
      Row(9001L, "r1 r2 r3 r4 q9001a q9001b"),
      Row(9002L, "z9002a r1 r2 r3 r4 q9002b"))
    val fixture = df(docSchema, boiler ++ rare)
    val capped = graft.dedup.Dedup
      .maximalRepeatPairs(fixture, "doc_id", "text", w = 3, maxDf = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // ≤ linear in n_docs — and here exactly the one rare-span run
    assert(capped.length <= 222)
    assert(capped.toSet === Set((9001L, 9002L, 1L, 2L, 4L)))
    // the uncapped twin IS quadratic — the volume the cap exists to kill
    val uncapped = graft.dedup.Dedup
      .maximalRepeatPairs(fixture, "doc_id", "text", w = 3, maxDf = Int.MaxValue)
      .count()
    assert(uncapped >= 220L * 219L / 2)
    // the census reports exactly what was dropped, with its true df
    val census = graft.dedup.Dedup.hotWindowReport(
      graft.dedup.Dedup.positionedWindowRows(fixture, "doc_id", "text", 3), 50)
      .collect().map(r => (r.getString(1), r.getLong(2))).toSet
    assert(census === Set(("b1 b2 b3", 220L)))
  }

  test("anchor-frequency cap: a run crossing a hot interior window splits at the gap") {
    // Two docs share a 7-token run whose MIDDLE window is boilerplate
    // (220 other docs carry it). The capped diagonal merge reports two
    // overlapping 4-token runs abutting the hot gap — the documented
    // split behavior — rather than the single 7-token run or nothing.
    val boiler = (1L to 220L).map(i => Row(i, s"b1 b2 b3 u${i}a u${i}b"))
    val pair = Seq(
      Row(9101L, "x1 x2 b1 b2 b3 y1 y2"),
      Row(9102L, "x1 x2 b1 b2 b3 y1 y2"))
    val fixture = df(docSchema, boiler ++ pair)
    val got = graft.dedup.Dedup
      .maximalRepeatPairs(fixture, "doc_id", "text", w = 3, maxDf = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got === Set(
      (9101L, 9102L, 1L, 1L, 4L),   // x1 x2 b1 b2
      (9101L, 9102L, 4L, 4L, 4L)))  // b2 b3 y1 y2
  }

  test("row-local minhash chain emits IDENTICAL (band, bkey) rows to the batch machinery") {
    // the lane-compatibility contract the streaming admission path
    // rests on: a row hashed with shingleDigestsColumn → signatureColumn
    // → bandKeysColumn must join a persisted minhashBanded index — any
    // drift in tokenizer, digest, lane seeding (INT seed type!), or
    // band slicing breaks admission SILENTLY (pairs just stop matching)
    val short = df(docSchema, docs.collect().toSeq :+ Row(5L, "one two")) // < shingleN fallback
    val rowLocal = short
      .withColumn("dg", Dedup.shingleDigestsColumn(col("text"), 3))
      .select(col("doc_id").as("did"),
        explode(Dedup.bandKeysColumn(
          Dedup.signatureColumn(col("dg"), 32), 32, 8)).as("bb"))
      .select(col("did"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    val batch = Dedup.minhashBanded(short, "doc_id", "text",
      k = 32, bands = 8, shingleN = 3)
    assert(rowsOf(rowLocal) === rowsOf(batch))
    assert(rowsOf(batch).size === 5 * 8)
  }

  test("rolling hash: native expression, interpreted == codegen, order-sensitive") {
    GraftFunctions.register(spark)
    val d = df(docSchema, Seq(Row(1L, "ab"), Row(2L, "ba"), Row(3L, "ab")))
    val got = d.select(col("doc_id"), expr("rolling_hash(text)").as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1) === got(3))
    assert(got(1) !== got(2))
    // 'ab' = 97*1000003 + 98
    assert(got(1) === 97L * 1000003L + 98L)
  }

  test("decodeHeader: spec-offset BMP/PNG fields, hand-written bytes (not packContainer)") {
    import graft.mm.Multimodal
    // standard 54-byte-header BMP, 2x3: pixel offset 54 @10 LE, w @18, h @22
    val bmp = new Array[Byte](60)
    bmp(0) = 'B'; bmp(1) = 'M'; bmp(10) = 54; bmp(18) = 2; bmp(22) = 3
    assert(Multimodal.decodeHeader(bmp) === ("bmp", 2L, 3L, 54))
    // real PNG signature + IHDR prefix, 1x257 (BE: height crosses a byte)
    val png = Array[Int](0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a,
      0, 0, 0, 13, 'I', 'H', 'D', 'R',
      0, 0, 0, 1, 0, 0, 1, 1).map(_.toByte)
    assert(Multimodal.decodeHeader(png) === ("png", 1L, 257L, 24))
    // no magic → raw, full-bytes payload
    assert(Multimodal.decodeHeader("hello".getBytes) === ("raw", 0L, 0L, 0))
    // top-down BMP: biHeight is SIGNED negative; dimension = magnitude
    val td = bmp.clone()
    td(22) = 0x20.toByte; td(23) = 0xfe.toByte; td(24) = 0xff.toByte; td(25) = 0xff.toByte
    assert(Multimodal.decodeHeader(td) === ("bmp", 2L, 480L, 54))
    // truncated BMP whose offset field exceeds the bytes: clamp to 0
    // (hash whole blob) instead of crashing the scan
    val trunc = new Array[Byte](30)
    trunc(0) = 'B'; trunc(1) = 'M'; trunc(10) = 54
    assert(Multimodal.decodeHeader(trunc) === ("bmp", 0L, 0L, 0))
    // packContainer round-trips through the same decoder
    val d = df(docSchema, Seq(Row(5L, "payload")))
    val packed = d.select(col("doc_id"),
      Multimodal.packContainer(col("doc_id") % 2 === 1,
        lit(640), lit(480), col("text")).as("b"))
    val got = Multimodal.extractFeatures(packed, "doc_id", "b").collect().head
    assert((got.format, got.width, got.height) === (("png", 640L, 480L)))
    assert(got.n_bytes === 24L + "payload".length)
  }

  test("dhashBands: hand-computed gradient bands on the 9x8 raster window") {
    import graft.mm.Multimodal
    // strictly increasing bytes: every horizontal gradient is
    // ascending, so all 8 bits set in every band
    val inc = (0 until 73).map(i => (48 + i).toChar).mkString
    // constant bytes: no ascending gradient anywhere
    val flat = "a" * 73
    // one dip at index 5 (row 0, col 5): kills exactly the c=4
    // comparison p(0,4) < p(0,5) in band 0; c=5 (dip < next) stays set
    val dip = inc.updated(5, '0')
    val d = df(docSchema, Seq(Row(1L, inc), Row(2L, flat), Row(3L, dip)))
    val got = d.select(col("doc_id"),
        Multimodal.dhashBands(col("text")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(got(1L) === Seq.fill(8)(255))
    assert(got(2L) === Seq.fill(8)(0))
    assert(got(3L) === (255 - 16) +: Seq.fill(7)(255))
  }

  test("extractAudio: signed 16-bit samples, stereo frames, raw fallback") {
    import graft.mm.Multimodal
    // stereo 4 kHz: samples 0x8000 (-32768), 0x7FFF, 0x0001, 0x0000 +
    // one trailing odd byte that must be dropped
    val payload = Array(0x00, 0x80, 0xFF, 0x7F, 0x01, 0x00, 0x00, 0x00, 0x7A)
      .map(_.toByte)
    val d = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, payload), Row(2L, payload))),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("p", org.apache.spark.sql.types.BinaryType))))
    val packed = d.select(col("doc_id"),
      when(col("doc_id") === 2L, col("p"))  // doc 2: headerless -> raw
        .otherwise(Multimodal.packWav(lit(2), lit(4000), col("p"))).as("b"))
    val got = Multimodal.extractAudio(packed, "doc_id", "b")
      .collect().sortBy(_.doc_id)
    val wav = got(0)
    assert((wav.format, wav.channels, wav.sample_rate, wav.bits) ===
      (("wav", Some(2L), Some(4000L), Some(16L))))
    // 4 samples over 2 channels = 2 frames; 2 frames at 4 kHz = 0 ms
    assert((wav.n_frames, wav.duration_ms) === ((Some(2L), Some(0L))))
    assert((wav.peak_abs, wav.sum_abs) === ((Some(32768L), Some(65536L))))
    assert(got(1).format === "raw" && got(1).channels.isEmpty)
  }

  test("keyframes: equal-hash runs segment into scenes, keyframe is the first frame") {
    import org.apache.spark.sql.types.{StructField => F}
    val s = StructType(Seq(F("doc_id", LongType), F("frame_idx", LongType),
      F("n_frames", LongType), F("frame_hash", StringType)))
    // doc 1: AAB BA → scenes [0,1]=A, [2,3]=B, [4]=A (a RE-USED hash
    // opens a NEW scene — runs, not distinct values); doc 2: single frame
    val frames = df(s, Seq(
      Row(1L, 0L, 5L, "A"), Row(1L, 1L, 5L, "A"), Row(1L, 2L, 5L, "B"),
      Row(1L, 3L, 5L, "B"), Row(1L, 4L, 5L, "A"),
      Row(2L, 0L, 1L, "Z")))
    val got = graft.mm.Multimodal.keyframes(frames)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === Set(
      (1L, 1L, 0L, 2L), (1L, 2L, 2L, 2L), (1L, 3L, 4L, 1L),
      (2L, 1L, 0L, 1L)))
  }

  test("sampleFrames: header-offset payload, stride, partial tail dropped") {
    import graft.mm.Multimodal
    val d = df(docSchema, Seq(Row(1L, "a" * 70), Row(2L, "b" * 20)))
    val packed = d.select(col("doc_id"),
      Multimodal.packContainer(col("doc_id") % 2 === 1, lit(8), lit(8),
        col("text")).as("b"))
    val got = Multimodal.sampleFrames(packed, "doc_id", "b", frameBytes = 32,
      stride = 1).collect().sortBy(f => (f.doc_id, f.frame_idx))
    // doc 1: 70-byte payload -> frames 0,1 (6-byte tail dropped);
    // doc 2: 20 bytes -> no full frame, no rows
    assert(got.map(f => (f.doc_id, f.frame_idx, f.n_frames)).toSeq ===
      Seq((1L, 0L, 2L), (1L, 1L, 2L)))
    val md = java.security.MessageDigest.getInstance("MD5")
    val want = md.digest(Array.fill[Byte](32)('a')).map("%02x".format(_)).mkString
    assert(got.forall(_.frame_hash === want))
    // stride skips: frames 0 only at stride 4
    val strided = Multimodal.sampleFrames(packed, "doc_id", "b", 32, 4).collect()
    assert(strided.map(_.frame_idx).toSeq === Seq(0L))
  }

  test("resizeNearest: every-other pixel of every-other row, tail rows dropped") {
    import graft.mm.Multimodal
    // 8-wide gray8: rows "01234567" / "89abcdef" / "ghijklmn" (+ tail)
    val d = df(docSchema, Seq(Row(1L, "0123456789abcdefghijklmnop"), Row(2L, "short")))
    val got = Multimodal.resizeNearest(
      d.select(col("doc_id"), col("text").cast("binary").as("b")),
      "doc_id", "b", width = 8, factor = 2).collect()
    // doc 1: 26 bytes -> in_h 3, out 4x1, pixels (0,0)(0,2)(0,4)(0,6) = "0246";
    // doc 2: 5 bytes -> no full output row, no output
    assert(got.length === 1)
    val f = got.head
    assert((f.doc_id, f.in_w, f.in_h, f.out_w, f.out_h) === ((1L, 8L, 3L, 4L, 1L)))
    val md = java.security.MessageDigest.getInstance("MD5")
    assert(f.resized_hash ===
      md.digest("0246".getBytes("UTF-8")).map("%02x".format(_)).mkString)
  }

  test("paragraph dedup: blank-line split, cross-doc paragraph pairs, per-doc fractions") {
    val d = df(docSchema, Seq(
      Row(1L, "shared boilerplate paragraph here\n\nunique alpha content one two three"),
      Row(2L, "shared boilerplate paragraph here\n\ntotally different words four five six"),
      Row(3L, "nothing in common\n\n")))  // trailing empty paragraph dropped
    assert(Dedup.paragraphs(d, "doc_id", "text").count() === 5)
    val got = rowsOf(Dedup.paragraphMinhashPairs(d, "doc_id", "text"))
    assert(got === Seq(Seq(1L, 0L, 2L, 0L, 1.0))) // only the shared para 0 pairs
    val stats = rowsOf(Dedup.paragraphDupStats(d, "doc_id", "text"))
    assert(stats === Seq(
      Seq(1L, 2L, 1L, 0.5), Seq(2L, 2L, 1L, 0.5), Seq(3L, 1L, 0L, 0.0)))
  }

  test("lineDedupStats: first occurrence kept in (doc, idx) order, later repeats removed") {
    val d = df(docSchema, Seq(
      Row(1L, "common header line\n\nalpha beta gamma"),
      Row(2L, "common header line\n\ncommon header line"),  // in-doc repeat too
      Row(3L, "delta epsilon zeta")))
    val got = rowsOf(Dedup.lineDedupStats(d, "doc_id", "text"))
    // doc 1 keeps both (header's first occurrence is 1000); doc 2 loses
    // both copies (2000 and 2001 are later than 1000); doc 3 untouched
    assert(got === Seq(
      Seq(1L, 2L, 0L, 6L),
      Seq(2L, 2L, 2L, 0L),
      Seq(3L, 1L, 0L, 3L)))
  }

  test("lineDedupIncremental: corpus lines kill batch repeats, corpus never re-counted") {
    val corpus = df(docSchema, Seq(
      Row(1L, "common header line\n\ncorpus only content")))
    val batch = df(docSchema, Seq(
      Row(10L, "common header line\n\nfresh alpha beta"),   // line 0 in corpus
      Row(11L, "fresh alpha beta\n\nfresh alpha beta")))    // in-batch repeat of 10's
    val got = rowsOf(Dedup.lineDedupIncremental(batch, corpus, "doc_id", "text"))
    // doc 10: header removed (corpus), "fresh alpha beta" kept (first in batch);
    // doc 11: both copies removed (10000 < 11000 holds the first occurrence);
    // corpus doc 1 must NOT appear in the output
    assert(got === Seq(
      Seq(10L, 2L, 1L, 3L),
      Seq(11L, 2L, 2L, 0L)))
  }

  test("lineDedupIncremental: overlapping batch/corpus doc id fails LOUDLY") {
    val corpus = df(docSchema, Seq(Row(1L, "corpus line one\n\ncorpus two")))
    val batch = df(docSchema, Seq(
      Row(1L, "corpus line one\n\nbatch text"), // same did as a corpus doc
      Row(2L, "fresh content")))
    val ex = intercept[Exception] {
      Dedup.lineDedupIncremental(batch, corpus, "doc_id", "text").collect()
    }
    assert(ex.getMessage.contains("disjoint") ||
      Option(ex.getCause).exists(_.getMessage.contains("disjoint")))
  }

  test("lineDedupStats invariants on random corpora: reconcile, distinct-keeps, idempotent") {
    val rnd = new scala.util.Random(42)
    val rows = (1L to 30L).map { i =>
      val paras = (0 until 1 + rnd.nextInt(4)).map(_ =>
        (0 until 1 + rnd.nextInt(5)).map(_ => s"w${rnd.nextInt(8)}").mkString(" "))
      Row(i, paras.mkString("\n\n"))
    }
    val d = df(docSchema, rows)
    val stats = Dedup.lineDedupStats(d, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val paras = Dedup.paragraphs(d, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
    // every line accounted for; kept lines = one per distinct text
    assert(stats.map(_._2).sum === paras.size)
    assert(stats.map(s => s._2 - s._3).sum === paras.map(_._3).distinct.size)
    // idempotence: a corpus of only the kept first occurrences loses nothing
    val keepers = paras.groupBy(_._3).values.map(_.minBy(p => p._1 * 1000 + p._2)).toSeq
    val deduped = keepers.groupBy(_._1).map { case (did, ps) =>
      Row(did, ps.sortBy(_._2).map(_._3).mkString("\n\n")) }.toSeq
    val again = Dedup.lineDedupStats(df(docSchema, deduped), "doc_id", "text").collect()
    assert(again.forall(_.getLong(2) === 0L))
  }

  test("lineDedupIncremental == full-corpus dedup restricted to the batch") {
    val rnd = new scala.util.Random(7)
    def mk(ids: Seq[Long]) = ids.map { i =>
      val paras = (0 until 1 + rnd.nextInt(3)).map(_ =>
        (0 until 1 + rnd.nextInt(4)).map(_ => s"w${rnd.nextInt(6)}").mkString(" "))
      Row(i, paras.mkString("\n\n"))
    }
    // corpus ids precede batch ids, so "first occurrence" agrees between
    // the union pass and the incremental probe
    val corpus = df(docSchema, mk(1L to 15L))
    val batch = df(docSchema, mk(100L to 110L))
    val full = rowsOf(Dedup.lineDedupStats(corpus.unionByName(batch), "doc_id", "text")
      .filter(col("did") >= 100L))
    val inc = rowsOf(Dedup.lineDedupIncremental(batch, corpus, "doc_id", "text"))
    assert(inc === full)
  }

  test("lineQualityStats: short and repetitive lines drop, doc keeps at half") {
    val d = df(docSchema, Seq(
      Row(1L, "one two three four five six seven eight\n\ntoo short"),
      Row(2L, "a a a a a a b b b b b b\n\nalpha beta gamma delta epsilon zeta eta theta")))
    val got = rowsOf(TextAnalysis.lineQualityStats(d, "doc_id", "text"))
    // doc 1: line1 has 8 distinct tokens (keeps), line2 has 2 (short);
    // doc 2: line1 is 12 tokens but 2 distinct (2*10 < 12*6, drops)
    assert(got === Seq(
      Seq(1L, 2L, 1L, 0.5, true),
      Seq(2L, 2L, 1L, 0.5, true)))
  }

  test("gopherStats: each rule trips on its breaker and passes on clean text") {
    val clean = (Seq.fill(5)("the quick brown fox jumps over that lazy dog again")
      .mkString(" ").split(' ').grouped(25).map(_.mkString(" ")).mkString("\n\n"))
    val d = df(docSchema, Seq(
      Row(1L, clean),                                     // passes everything
      Row(2L, "- item one\n\n- item two"),                // all-bullet lines
      Row(3L, "it drifts away...\n\nthe end comes..."),   // all-ellipsis lines
      Row(4L, "# # # # heavy # tag # soup")))             // symbol-heavy
    val got = TextAnalysis.gopherStats(d, "doc_id", "text")
    val byId = rowsOf(got.select(col("doc_id"), col("ok_words"), col("ok_bullet"),
      col("ok_ellipsis"), col("ok_symbol"), col("keep")).orderBy("doc_id"))
    assert(byId === Seq(
      Seq(1L, true, true, true, true, true),
      Seq(2L, false, false, true, true, false),
      Seq(3L, false, true, false, false, false), // '...' runs also count as symbols
      Seq(4L, false, true, true, false, false)))
    // counts on the bullet doc: 2 lines, both bullets, 6 words
    val r2 = rowsOf(got.filter(col("doc_id") === 2L)
      .select(col("n_words"), col("n_lines"), col("n_bullet_lines")))
    assert(r2 === Seq(Seq(6L, 2L, 2L)))
  }

  test("chunkDocs: overlap boundaries, short-doc single chunk, exact tail") {
    import graft.pipeline.Sampling
    val d = df(docSchema, Seq(
      Row(1L, (1 to 30).map(i => s"w$i").mkString(" ")),  // 30 tokens
      Row(2L, "a b c")))                                  // short: 1 chunk
    val got = rowsOf(Sampling.chunkDocs(d, "doc_id", "text",
      maxTokens = 16, overlap = 4).orderBy("doc_id", "chunk_idx"))
    // doc 1: stride 12 -> chunks at tokens 1-16, 13-28, 25-30
    assert(got.map(r => (r(0), r(1), r(2))) ===
      Seq((1L, 0L, 16L), (1L, 1L, 16L), (1L, 2L, 6L), (2L, 0L, 3L)))
    assert(got(1)(3) === (13 to 28).map(i => s"w$i").mkString(" "))
    assert(got(2)(3) === (25 to 30).map(i => s"w$i").mkString(" "))
    // adjacent chunks share exactly the 4 overlap tokens
    assert(got(0)(3).toString.split(" ").takeRight(4).toSeq ===
      got(1)(3).toString.split(" ").take(4).toSeq)
  }

  test("shardOrder: positions match the global-window twin and ignore partitioning") {
    import graft.pipeline.Sampling
    import org.apache.spark.sql.expressions.Window
    val d = spark.range(0, 400).toDF("doc_id")
    val ref = {
      val h = Sampling.hash32(col("doc_id"))
      val w = Window.partitionBy(pmod(h, lit(8L))).orderBy(h, col("doc_id"))
      rowsOf(d.select(col("doc_id"), pmod(h, lit(8L)).as("shard"),
        (row_number().over(w) - 1).cast("long").as("shard_pos")).orderBy("doc_id"))
    }
    val parts = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(parts)
    try for (p <- Seq(3, 7)) {
      spark.conf.set(parts, p.toString)
      val got = rowsOf(Sampling.shardOrder(d, "doc_id", nShards = 8).orderBy("doc_id"))
      assert(got === ref)
    } finally spark.conf.set(parts, before)
  }

  test("legendColorRamp: equal-interval classes, truncated lerp endpoints, empty class kept") {
    import graft.report.Reports
    val schema = StructType(Seq(
      StructField("mukey", LongType), StructField("rating", DoubleType)))
    // values 0..10 with a hole in [2.5, 5.0) -> class 1 of 4 is empty;
    // the null rating must NOT land in any class (least() skips nulls —
    // unguarded it files under the TOP class) nor stretch the range
    val r = df(schema, Seq(Row(1L, 0.0), Row(2L, 1.0), Row(3L, 6.0),
      Row(4L, 9.0), Row(5L, 10.0), Row(6L, null)))
    val got = rowsOf(Reports.legendColorRamp(r, "rating", 4, (255, 0, 0), (0, 0, 255)))
    assert(got === Seq(
      Seq(0L, 0.0, 2.5, 255L, 0L, 0L, 2L),     // vmin lands here
      Seq(1L, 2.5, 5.0, 170L, 0L, 85L, 0L),    // empty class still listed
      Seq(2L, 5.0, 7.5, 85L, 0L, 170L, 1L),
      Seq(3L, 7.5, 10.0, 0L, 0L, 255L, 2L)))   // v == vmax capped into last
  }

  test("redact: PII tokens replaced wholesale, whitespace/ambient preserved, 6 digits spared") {
    val d = df(docSchema, Seq(
      Row(1L, "contact bob@example.com  for\tinfo"),
      Row(2L, "a@b.c d@e.f HTTPS://x 555-123-4567"),
      Row(3L, "plain text 12-34-56 survives")))
    val got = d.orderBy("doc_id")
      .select(TextAnalysis.redact(col("text"))).collect().map(_.getString(0)).toSeq
    assert(got === Seq(
      "contact <EMAIL>  for\tinfo",       // double space + tab intact
      "<EMAIL> <EMAIL> <URL> <PHONE>",    // adjacent tokens all hit
      "plain text 12-34-56 survives"))    // 6 digits below the phone bar
  }

  test("langId picks the dominant stopword language") {
    val d = df(docSchema, Seq(
      Row(1L, "the cat is on the mat and it is warm"),
      Row(2L, "el gato que vive en la casa de los perros"),
      Row(3L, "qzx wvu nopqrst")))
    val got = d.select(TextAnalysis.langId(col("text"))).collect().map(_.getString(0)).toSeq
    assert(got === Seq("en", "es", "und"))
  }

  test("exact dedup groups identical content") {
    val got = Dedup.exact(docs, "doc_id", "text").collect()
    assert(got.length === 3)
    val dup = got.find(_.getLong(1) === 2L).get
    assert(dup.getLong(2) === 1L) // min doc_id kept
  }

  test("ngram jaccard finds the near-dup pair, not the unrelated doc") {
    val got = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleN = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    // (1,2) share 7 of 9 distinct shingles → j = 7/(8+8-7) = 0.7778;
    // (1,4) identical → 1.0; (2,4) same as (1,2)
    assert(got.map(p => (p._1, p._2)) === Seq((1L, 2L), (1L, 4L), (2L, 4L)))
    assert(got.find(p => p._1 == 1 && p._2 == 4).get._3 === 1.0)
  }

  test("minhash LSH recalls exact duplicates with jaccard 1.0") {
    val got = Dedup.minhashLshPairs(docs, "doc_id", "text",
      k = 32, bands = 4, shingleN = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got.contains((1L, 4L, 1.0)))
  }

  test("incremental minhash: batch pairs only, corpus never re-paired") {
    val got = Dedup.minhashLshPairsIncremental(
      docs.filter(col("doc_id") === 4), docs.filter(col("doc_id") < 4),
      "doc_id", "text", shingleN = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    // doc 4 duplicates 1 and near-dups 2; pair (1,2) predates the
    // batch and must NOT be re-emitted
    assert(got === Seq((1L, 4L), (2L, 4L)))
  }

  test("incremental substring windows: batch pairs only, corpus never re-paired") {
    val dS = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val span = (1 to 6).map(i => s"tok$i").mkString(" ") // one 5-token-window span + 1
    val corpus = df(dS, Seq(
      Row(1L, s"$span alpha beta gamma"), Row(2L, s"$span delta epsilon zeta"),
      Row(3L, "unrelated words only here nothing shared at all")))
    val batch = df(dS, Seq(Row(10L, s"$span own tail text")))
    val got = Dedup.substringDupPairsIncremental(batch, corpus, "doc_id", "text", w = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    // docs 1 and 2 share the span with each other AND with the batch
    // doc; only the batch-touching pairs may appear
    assert(got === Seq((1L, 10L), (2L, 10L)))
  }

  test("simhash of identical docs has hamming 0; near-dups small hamming") {
    val got = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 16)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(got((1L, 4L)) === 0)
    assert(got.get((1L, 2L)).forall(_ <= 16))
  }

  test("simhash verified pairs: exact-precision subset of the all-pairs twin, identical docs recalled") {
    val got = rowsOf(Dedup.simhashVerifiedPairs(docs, "doc_id", "text",
      shingleN = 2, threshold = 0.5).select("id_a", "id_b", "jaccard"))
    val exact = rowsOf(Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleN = 2, threshold = 0.5).select("id_a", "id_b", "jaccard"))
    // precision is exact (verified jaccard), recall approximate: a
    // 4-doc fixture is too small for stable mean cuts, so only the
    // identical pair is guaranteed here — corpus-scale full recall is
    // what the d03 DuckDB gate pins.
    assert(got.toSet.subsetOf(exact.toSet))
    assert(got.contains(Seq(1L, 4L, 1.0)))
  }

  test("dup clusters: star contraction finds connected components") {
    val pS = StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType)))
    // chain 1-2-3 plus pair 8-9: clusters {1,2,3}→1, {8,9}→8
    val pairs = df(pS, Seq(Row(1L, 2L), Row(2L, 3L), Row(8L, 9L)))
    val got = rowsOf(Dedup.dupClusters(pairs))
    assert(got === Seq(Seq(1L, 1L), Seq(2L, 1L), Seq(3L, 1L),
      Seq(8L, 8L), Seq(9L, 8L)))
  }

  test("dupClusters: a 64-node chain labels every node with the component min") {
    val pS = StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType)))
    // diameter 63: a loop bounded by the component diameter (min-label
    // propagation stopped at 20 rounds) leaves the far end mislabeled
    val got = rowsOf(Dedup.dupClusters(df(pS, (0L until 63L).map(i => Row(i, i + 1)))))
    assert(got === (0L until 64L).map(i => Seq[Any](i, 0L)).sortBy(_.mkString("|")))
  }

  test("dup clusters: empty pair set converges to an empty result (no dups in slice)") {
    val pS = StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType)))
    // a dup-free slice is a valid input that must converge at once,
    // not trip the no-fixpoint guard (the sf1-battery crash class)
    assert(rowsOf(Dedup.dupClusters(df(pS, Seq.empty))) === Seq.empty)
  }

  test("triangleCounts: two-triangle graph, triangle-free hub at zero, K4 = 3 per node") {
    val pS = StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType)))
    // triangles {1,2,3} and {3,4,5} sharing node 3; hub 6-{7,8} closes
    // nothing (the boilerplate-hub contrast the operator exists for)
    val pairs = df(pS, Seq(Row(1L, 2L), Row(1L, 3L), Row(2L, 3L),
      Row(3L, 4L), Row(4L, 5L), Row(3L, 5L), Row(6L, 7L), Row(6L, 8L)))
    val got = rowsOf(Dedup.triangleCounts(pairs).orderBy("doc_id"))
    assert(got === Seq(Seq(1L, 2L, 1L), Seq(2L, 2L, 1L), Seq(3L, 4L, 2L),
      Seq(4L, 2L, 1L), Seq(5L, 2L, 1L), Seq(6L, 2L, 0L),
      Seq(7L, 1L, 0L), Seq(8L, 1L, 0L)))
    // K4: every node sits in C(3,2) = 3 triangles; 4 wedge closings
    // total — each triangle counted exactly once despite equal degrees
    val k4 = df(pS, (1L to 4L).flatMap(a => (a + 1 to 4L).map(b => Row(a, b))))
    val gotK4 = rowsOf(Dedup.triangleCounts(k4).orderBy("doc_id"))
    assert(gotK4 === (1L to 4L).map(n => Seq(n, 3L, 3L)))
    assert(rowsOf(Dedup.triangleCounts(df(pS, Seq.empty))) === Seq.empty)
  }

  test("pairPageRank: hand-computed 3-iteration integer ranks on a star graph") {
    val pS = StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType)))
    // star 1-{2,3}: hub 1 has outdeg 2, leaves send full rank to 1
    val pairs = df(pS, Seq(Row(1L, 2L), Row(1L, 3L)))
    val got = rowsOf(Dedup.pairPageRank(pairs, iters = 3)
      .select(col("doc_id"), col("outdeg"), col("rank")))
    // iter1: r1=150000+85*2000000//100=1850000, r2=r3=150000+85*500000//100=575000
    // iter2: r1=150000+85*1150000//100=1127500, r2=r3=150000+85*925000//100=936250
    // iter3: r1=150000+85*1872500//100=1741625, r2=r3=150000+85*563750//100=629187
    assert(got === Seq(Seq(1L, 2L, 1741625L),
      Seq(2L, 1L, 629187L), Seq(3L, 1L, 629187L)))
  }

  test("dsirScore: normalized log-ratio — target bigrams score above off-target, short doc dropped") {
    val d = df(docSchema, Seq(
      Row(1L, "a b a b"),   // target: feats "a b"(x2), "b a"
      Row(2L, "a b c"),     // raw-only: "a b", "b c"
      Row(3L, "solo")))     // 1 token: no features, no row
    val got = rowsOf(TextAnalysis.dsirScore(d, "doc_id", "text",
      col("doc_id") === 1L))
    // totals: N_r=5, N_t=3 → offset bitlen(5)-bitlen(3) = 3-2 = +1/feat
    // wgt("a b") = bitlen(2)-bitlen(3)+1 = 1; "b a": 1-1+1 = 1;
    // "b c" (nt=0): 0-1+1 = 0 — off-target sits BELOW target-resident
    // bigrams, and a positive (target-like) score is reachable
    assert(got === Seq(Seq(1L, 3L, 3L, true), Seq(2L, 2L, 1L, true)))
  }

  test("knnGraph with one bucket equals brute-force all-pairs top-k") {
    import graft.ann.Ann
    val s = StructType(Seq(StructField("vid", LongType),
      StructField("vec", ArrayType(DoubleType))))
    val d = df(s, Seq(
      Row(1L, Seq(1.0, 0.1, 0.0)), Row(2L, Seq(0.9, 0.2, 0.1)),
      Row(3L, Seq(-0.5, 0.8, 0.3)), Row(4L, Seq(0.0, 0.1, 1.0)),
      Row(5L, Seq(0.4, -0.6, 0.7))))
    val cS = StructType(Seq(StructField("cid", LongType),
      StructField("cvec", ArrayType(DoubleType))))
    val one = df(cS, Seq(Row(0L, Seq(1.0, 1.0, 1.0))))
    val graph = rowsOf(Ann.knnGraph(d, one, k = 2))
    val brute = rowsOf(Ann.bruteForceTopK(
      d.select(col("vid").as("qid"), col("vec").as("qvec")), d, k = 2)
      .select(col("qid").as("vid"), col("neighbor_id"), col("cosine"), col("rank")))
    assert(graph === brute)
    assert(graph.size === 10) // 5 vectors x top-2
  }

  test("the pr=1 probe is ivfAssign's argmax, and knnGraph is the nprobe=1 multiprobe graph") {
    import graft.ann.Ann
    val s = StructType(Seq(StructField("vid", LongType),
      StructField("vec", ArrayType(DoubleType))))
    val corpus = df(s, (1L to 12L).map { i =>
      val e = (i % 5).toDouble / 10
      Row(i, (i % 3) match {
        case 0 => Seq(1.0, e, 0.0)
        case 1 => Seq(e, 1.0, 0.0)
        case _ => Seq(0.0, e, 1.0)
      })
    })
    // duplicated centroid vectors, the larger cid listed first: every
    // vector nearest to a duplicated pair ties on cos6, and only the
    // cid-asc tiebreak picks the bucket
    val cS = StructType(Seq(StructField("cid", LongType),
      StructField("cvec", ArrayType(DoubleType))))
    val cents = df(cS, Seq(
      Row(4L, Seq(0.0, 0.0, 1.0)), Row(3L, Seq(0.0, 0.0, 1.0)),
      Row(1L, Seq(1.0, 0.0, 0.0)), Row(0L, Seq(1.0, 0.0, 0.0)),
      Row(2L, Seq(0.0, 1.0, 0.0))))
    val assigned = rowsOf(Ann.ivfAssign(corpus, cents).select(col("vid"), col("cid")))
    val probed = rowsOf(Ann.probes(corpus, cents, 1).select(col("vid"), col("cid")))
    assert(probed === assigned)
    assert(assigned.map(_(1)).toSet === Set(0L, 2L, 3L), "fixture has no cos6 tie")
    val graph = rowsOf(Ann.knnGraph(corpus, cents, k = 2))
    assert(graph.nonEmpty)
    assert(graph === rowsOf(Ann.knnGraphMultiProbe(corpus, cents, k = 2, nprobe = 1)))
  }

  test("graphSearch crosses a bucket boundary single-bucket IVF cannot") {
    import graft.ann.Ann
    val s = StructType(Seq(StructField("vid", LongType),
      StructField("vec", ArrayType(DoubleType))))
    // two orthogonal buckets; v3 sits just inside bucket 0 but its TRUE
    // nearest neighbor v4 lives just inside bucket 1
    val corpus = df(s, Seq(
      Row(1L, Seq(1.0, 0.1)), Row(2L, Seq(1.0, 0.3)),
      Row(3L, Seq(0.8, 0.75)), Row(4L, Seq(0.75, 0.8)),
      Row(5L, Seq(0.1, 1.0))))
    val cS = StructType(Seq(StructField("cid", LongType),
      StructField("cvec", ArrayType(DoubleType))))
    val cents = df(cS, Seq(Row(0L, Seq(1.0, 0.0)), Row(1L, Seq(0.0, 1.0))))
    val q = corpus.filter(col("vid") === 3L)
      .select(col("vid").as("qid"), col("vec").as("qvec"))
    // the single-bucket probe is confined to bucket 0 — v4 unreachable
    val ivfIds = Ann.ivfSearch(q, corpus, cents, k = 2)
      .collect().map(_.getLong(1)).toSet
    assert(ivfIds === Set(1L, 2L))
    // the multi-probe graph carries the boundary-crossing edge, and the
    // walk (seed = IVF top-1 = v2, one hop over v2's edges) finds v4
    // and ranks it first
    val edges = Ann.knnGraphMultiProbe(corpus, cents, k = 3, nprobe = 2)
    assert(edges.filter(col("vid") === 2L && col("neighbor_id") === 4L)
      .count() === 1L, "expected the v2->v4 cross-bucket edge")
    val g = Ann.graphSearch(q, corpus, cents, edges, k = 2, beam = 2, hops = 2)
      .orderBy(col("rank")).collect().map(r => (r.getLong(1), r.getLong(3)))
    assert(g.toSeq === Seq((4L, 1L), (2L, 2L)))
  }

  test("embedding LSH near-dup: pairs match the exact cross-join twin on high-margin vectors") {
    val s = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(DoubleType))))
    def vec(base: Seq[Double], eps: Double): Seq[Double] = base.map(_ + eps)
    val a = Seq(1.0, 0.2, -0.5, 0.8, -0.1, 0.4, 0.9, -0.3)
    val b = Seq(-0.7, 0.9, 0.1, -0.4, 0.6, -0.8, 0.2, 0.5)
    val d = df(s, Seq(
      Row(1L, vec(a, 0.0)), Row(2L, vec(a, 0.01)), // planted near-dup pair
      Row(3L, vec(b, 0.0)), Row(4L, vec(b, -0.02)), // second cluster
      Row(5L, Seq(0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0)))) // unrelated
    val exact = rowsOf(Dedup.embeddingCosinePairs(d, "vec_id", "embedding", 0.95)
      .select("id_a", "id_b"))
    val lsh = rowsOf(Dedup.embeddingCosinePairsLsh(d, "vec_id", "embedding", 0.95)
      .select("id_a", "id_b"))
    assert(exact === Seq(Seq(1L, 2L), Seq(3L, 4L)))
    assert(lsh === exact) // full recall at high cosine margin
  }

  test("semDedup: in-cluster near-dup dies to the lower id; cluster boundary shields a pair") {
    val s = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(DoubleType))))
    def vec(base: Seq[Double], eps: Double): Seq[Double] = base.map(_ + eps)
    val a = Seq(1.0, 0.2, -0.5, 0.8, -0.1, 0.4, 0.9, -0.3)
    val b = Seq(-0.7, 0.9, 0.1, -0.4, 0.6, -0.8, 0.2, 0.5)
    val d = df(s, Seq(
      Row(1L, vec(a, 0.0)), Row(2L, vec(a, 0.01)),  // cluster A dup pair
      Row(3L, vec(b, 0.0)), Row(4L, vec(b, -0.02)), // cluster B dup pair
      Row(5L, Seq(0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0)))) // lone, cluster-mate of nobody similar
    val cents = df(StructType(Seq(StructField("cid", LongType),
      StructField("cvec", ArrayType(DoubleType)))), Seq(
      Row(10L, vec(a, 0.0)), Row(20L, vec(b, 0.0)),
      Row(30L, Seq(0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0))))
    val got = rowsOf(Dedup.semDedup(d, "vec_id", "embedding", cents, 0.95)
      .select(col("vid"), col("keep")))
    // first occurrence (lower id) survives in each cluster; the lone
    // vector keeps — no cluster-mate above threshold
    assert(got === Seq(Seq(1L, true), Seq(2L, false),
      Seq(3L, true), Seq(4L, false), Seq(5L, true)))
    // a dup-grade pair SPLIT across clusters is (correctly) untouched:
    // same vectors, but centroids that pull 2 away from 1
    val cents2 = df(StructType(Seq(StructField("cid", LongType),
      StructField("cvec", ArrayType(DoubleType)))), Seq(
      Row(10L, vec(a, 0.0)), Row(20L, vec(a, 0.011)), Row(30L, vec(b, 0.0))))
    val got2 = Dedup.semDedup(d, "vec_id", "embedding", cents2, 0.95)
      .filter(col("vid") <= 2).select(col("vid"), col("cid"), col("keep"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1)
    if (got2(0)._2 != got2(1)._2) // boundary actually split them
      assert(got2.forall(_._3), "cross-cluster pair must both survive")
  }

  test("CosineSim: codegen path == interpreted eval; nulls on mismatch/zero-norm/null-element") {
    import org.apache.spark.sql.graft.CosineSim
    import org.apache.spark.sql.catalyst.util.ArrayData
    val s = StructType(Seq(StructField("a", ArrayType(DoubleType)),
      StructField("b", ArrayType(DoubleType))))
    val rows = Seq(
      Row(Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0, 3.0)),    // identical → 1.0
      Row(Seq(1.0, 0.0), Seq(0.0, 1.0)),              // orthogonal → 0.0
      Row(Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0)),         // length mismatch → null
      Row(Seq(0.0, 0.0), Seq(1.0, 2.0)),              // zero norm → null (no ANSI error)
      Row(Seq(1.0, null), Seq(1.0, 2.0)),             // null element → null
      Row(null, Seq(1.0)))                            // null array → null
    // DataFrame path (whole-stage codegen)
    val got = df(s, rows)
      .select(graft.ann.Vectors.cosine(col("a"), col("b")).as("c"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getDouble(0)).toSeq
    assert(got(0) === 1.0)
    assert(math.abs(got(1).asInstanceOf[Double]) < 1e-15)
    assert(got.drop(2) === Seq(null, null, null, null))
    // interpreted eval agrees on the non-null-input rows
    def arr(xs: Double*) = ArrayData.toArrayData(xs.toArray)
    import org.apache.spark.sql.catalyst.expressions.Literal
    val e = CosineSim(Literal(1), Literal(1))
    assert(e.nullSafeEval(arr(1.0, 2.0, 3.0), arr(1.0, 2.0, 3.0)) === 1.0)
    assert(e.nullSafeEval(arr(1.0, 2.0), arr(1.0, 2.0, 3.0)) === null)
    assert(e.nullSafeEval(arr(0.0, 0.0), arr(1.0, 2.0)) === null)
  }

  test("CosineSim: float arrays run NATIVE (no cast in plan) and equal the double path bit-for-bit") {
    // r18: the embedding columns are array<float>; a double-only input
    // contract made every call site wrap the vector in
    // cast(array<float> AS array<double>) — evaluated per scored PAIR
    // in the post-join projection (two array allocations per row on
    // the Σ|bucket|² scoring paths). Float inputs must now evaluate in
    // place, and float→double element promotion is exact, so values
    // must equal the old cast path exactly.
    val vals = Seq(
      (Seq(0.25f, -1.5f, 3.75f), Seq(1.125f, 2.0f, -0.5f)),
      (Seq(1.0f, 2.0f, 3.0f), Seq(1.0f, 2.0f, 3.0f)),
      (Seq(0.1f, 0.2f), Seq(0.3f, 0.7f))) // 0.1f etc: non-exact floats
    val s = StructType(Seq(StructField("a", ArrayType(FloatType)),
      StructField("b", ArrayType(FloatType))))
    val d = df(s, vals.map { case (a, b) => Row(a, b) })
    val native = d.select(graft.ann.Vectors.cosine(col("a"), col("b")).as("c"))
    // the analyzed plan must carry NO cast above the float columns
    assert(!native.queryExecution.analyzed.toString.toLowerCase.contains("cast("),
      s"float input should not be cast:\n${native.queryExecution.analyzed}")
    val got = native.collect().map(_.getDouble(0)).toSeq
    // reference: the old behavior — explicit cast to array<double> first
    val ref = d.select(graft.ann.Vectors.cosine(
        col("a").cast("array<double>"), col("b").cast("array<double>")).as("c"))
      .collect().map(_.getDouble(0)).toSeq
    assert(got === ref)
    // mixed float/double sides also run uncast and agree
    val mixed = d.select(graft.ann.Vectors.cosine(
        col("a"), col("b").cast("array<double>")).as("c"))
      .collect().map(_.getDouble(0)).toSeq
    assert(mixed === ref)
  }

  test("PrefixSum.exclusive == single-node window cumsum on unsorted multi-partition input") {
    import org.apache.spark.sql.expressions.Window
    val s = StructType(Seq(StructField("k", LongType), StructField("v", LongType)))
    val d = df(s, Seq(9L -> 4L, 3L -> 1L, 7L -> 2L, 1L -> 10L, 5L -> 3L, 2L -> 7L)
      .map { case (k, v) => Row(k, v) }).repartition(4)
    val got = rowsOf(graft.core.PrefixSum.exclusive(d, "k", "v").orderBy("k")
      .select("k", "v", "prefix"))
    val w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
    val expect = rowsOf(d.withColumn("prefix", coalesce(sum("v").over(w), lit(0L)))
      .orderBy("k").select("k", "v", "prefix"))
    assert(got === expect)
    assert(got.head === Seq(1L, 10L, 0L)) // first row: empty prefix
  }

  test("Sampling.split is the Knuth-hash bucket rule, engine-reproducible") {
    val s = StructType(Seq(StructField("doc_id", LongType)))
    val ids = (0L to 99L).toSeq
    val d = df(s, ids.map(Row(_)))
    val got = graft.pipeline.Sampling.split(d, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // reference computed in BigInt — the limb-split implementation must
    // equal true (id mod 2^32)·C mod 2^32 arithmetic
    def bucket(id: Long) =
      ((BigInt(id).mod(BigInt(2).pow(32)) * 2654435761L).mod(BigInt(2).pow(32)) % 100).toLong
    ids.foreach { id =>
      val expect = if (bucket(id) < 80) "train" else if (bucket(id) < 90) "val" else "test"
      assert(got(id) === expect, s"id $id bucket ${bucket(id)}")
    }
    assert(got.values.toSet === Set("train", "val", "test")) // all splits hit
  }

  test("Sampling.hashBucket survives the full non-negative int64 domain (no ANSI overflow)") {
    val s = StructType(Seq(StructField("doc_id", LongType)))
    // ids at and beyond the ~3.47e9 overflow point of a naive id*C
    val ids = Seq(0L, 1L, 3470000000L, 4294967295L, 4294967296L,
      1234567890123456789L, Long.MaxValue)
    val d = df(s, ids.map(Row(_)))
    val got = d.select(col("doc_id"),
        graft.pipeline.Sampling.hashBucket(col("doc_id")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ref(id: Long) =
      ((BigInt(id).mod(BigInt(2).pow(32)) * 2654435761L).mod(BigInt(2).pow(32)) % 100).toLong
    ids.foreach(id => assert(got(id) === ref(id), s"id $id"))
  }

  test("PrefixSum.exclusive handles negative values (partition totals are sums, not maxes)") {
    val s = StructType(Seq(StructField("k", LongType), StructField("v", LongType)))
    val rows = Seq(1L -> 5L, 2L -> -8L, 3L -> 3L, 4L -> -1L, 5L -> 10L, 6L -> -20L, 7L -> 4L)
    val d = df(s, rows.map { case (k, v) => Row(k, v) }).repartition(4)
    val parts = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(parts)
    spark.conf.set(parts, "3")
    val got = try rowsOf(graft.core.PrefixSum.exclusive(d, "k", "v")
      .orderBy("k").select("k", "prefix")) finally spark.conf.set(parts, before)
    val expect = rows.map(_._2).scanLeft(0L)(_ + _).init
    assert(got.map(_(1)) === expect)
  }

  test("Decontam.contaminated: distinct shared 3-grams with eval, clean docs absent") {
    val d = df(docSchema, Seq(
      Row(1L, "alpha beta gamma delta"),        // 2 shingles, both in eval
      Row(2L, "totally different words here now"), // clean
      Row(3L, "x y"),                           // short doc: whole-text shingle
      Row(97L, "alpha beta gamma delta"),       // eval
      Row(194L, "x y")))                        // eval (short)
    val got = rowsOf(graft.pipeline.Decontam.contaminated(
      d.filter(col("doc_id") % 97 =!= 0), d.filter(col("doc_id") % 97 === 0),
      "doc_id", "text").orderBy("doc_id"))
    assert(got === Seq(Seq(1L, 2L), Seq(3L, 1L)))
  }

  test("Decontam.bloomContaminated == contaminated (no false negatives), shard merge bit-exact") {
    // larger corpus so the Bloom prune has real clean mass to drop:
    // 200 clean docs with disjoint vocab + the planted hits
    val rows = Seq(
      Row(1L, "alpha beta gamma delta"),
      Row(3L, "x y"),
      Row(97L, "alpha beta gamma delta"),
      Row(194L, "x y")) ++
      (300L to 499L).map(i => Row(i, s"w${i}a w${i}b w${i}c w${i}d w${i}e"))
    val d = df(docSchema, rows)
    val corpus = d.filter(col("doc_id") % 97 =!= 0)
    val eval = d.filter(col("doc_id") % 97 === 0)
    val exact = rowsOf(graft.pipeline.Decontam.contaminated(
      corpus, eval, "doc_id", "text"))
    val bloom = graft.pipeline.Decontam.bloomContaminated(
      corpus, eval, "doc_id", "text")
    // value-identical report (Bloom has no false negatives; false
    // positives die in the verify join) + the merge gate on every row
    assert(rowsOf(bloom.select("doc_id", "n_shared")) === exact)
    assert(bloom.collect().forall(_.getBoolean(2)), "shard-merged Bloom differs")
  }

  test("Decontam.fuzzyContaminated: near-dup corpus docs flagged, corpus pairs never scored") {
    // eval 100 is a near-copy of corpus docs 1 AND 4 (identical twins)
    // and a weaker near-copy of 2; doc 3 is clean. Corpus-resident pair
    // (1,4) shares everything but must NOT produce a row — only
    // corpus×eval similarity is reported.
    val eval = df(docSchema,
      Seq(Row(100L, "quick brown fox jumps over the lazy dog")))
    val got = rowsOf(graft.pipeline.Decontam.fuzzyContaminated(
      docs, eval, "doc_id", "text", shingleN = 2, threshold = 0.5)
      .orderBy("doc_id"))
    assert(got.map(_.head) === Seq(1L, 2L, 4L))
    assert(got.map(_(2)) === Seq(1L, 1L, 1L)) // one bench match each
    // docs 1/4 differ from eval only by the leading "the"
    assert(got.filter(r => r.head == 1L || r.head == 4L)
      .forall(_(1).asInstanceOf[Double] > 0.8))
  }

  test("Decontam.fuzzyContaminated: overlapping ids fail loudly") {
    val eval = df(docSchema,
      Seq(Row(1L, "the quick brown fox jumps over the lazy dog")))
    val ex = intercept[Exception] {
      graft.pipeline.Decontam.fuzzyContaminated(
        docs, eval, "doc_id", "text", shingleN = 2, threshold = 0.5).collect()
    }
    assert(ex.getMessage.contains("disjoint") ||
      ex.getCause != null && ex.getCause.getMessage.contains("disjoint"))
  }

  test("Ann.recallAtK: hit counting, zero-hit queries still get a row") {
    val rs = StructType(Seq(StructField("qid", LongType),
      StructField("neighbor_id", LongType)))
    val truth = df(rs, Seq(Row(1L, 10L), Row(1L, 11L), Row(2L, 20L),
      Row(2L, 21L), Row(3L, 30L), Row(3L, 31L)))
    val approx = df(rs, Seq(Row(1L, 10L), Row(1L, 11L), Row(2L, 21L),
      Row(2L, 99L), Row(3L, 98L), Row(3L, 99L)))
    val got = rowsOf(graft.ann.Ann.recallAtK(truth, approx, k = 2).orderBy("qid"))
    assert(got === Seq(Seq(1L, 2L, 1.0), Seq(2L, 1L, 0.5), Seq(3L, 0L, 0.0)))
  }

  test("Pq.rerankExact: exact cosine re-orders the ADC shortlist") {
    val es = StructType(Seq(StructField("id", LongType),
      StructField("v", ArrayType(DoubleType))))
    val corpus = df(es, Seq(
      Row(10L, Seq(1.0, 0.0)),   // cos to query = 1.0
      Row(11L, Seq(1.0, 0.2)),   // ~0.981
      Row(12L, Seq(0.0, 1.0))))  // 0.0
      .select(col("id").as("vid"), col("v").as("vec"))
    val queries = df(es, Seq(Row(1L, Seq(1.0, 0.0))))
      .select(col("id").as("qid"), col("v").as("qvec"))
    // ADC put the worse neighbor first; exact re-rank must flip it
    val sl = df(StructType(Seq(StructField("qid", LongType),
      StructField("neighbor_id", LongType))),
      Seq(Row(1L, 11L), Row(1L, 10L), Row(1L, 12L)))
    val got = rowsOf(graft.ann.Pq.rerankExact(sl, queries, corpus, k = 2)
      .select("qid", "neighbor_id", "rank"))
    assert(got.toSet === Set(Seq(1L, 10L, 1L), Seq(1L, 11L, 2L)))
  }

  test("repetitionMetrics: dup-token and top-token fractions") {
    val d = df(docSchema, Seq(Row(1L, "a a a b"), Row(2L, "a b c d")))
    val got = rowsOf(TextAnalysis.repetitionMetrics(d, "doc_id", "text").orderBy("doc_id"))
    assert(got === Seq(
      Seq(1L, 4L, 2L, 3L, 0.5, 0.75),
      Seq(2L, 4L, 4L, 1L, 0.0, 0.25)))
  }

  test("mixtureSample keeps exactly the ids whose hash bucket clears the domain rate") {
    val s = StructType(Seq(StructField("doc_id", LongType), StructField("lang", StringType)))
    val rows = (0L until 200L).map(i => Row(i, if (i % 2 == 0) "en" else "de"))
    val rates = Map("en" -> 40)
    val got = graft.pipeline.Sampling.mixtureSample(
      df(s, rows), "doc_id", "lang", rates)
      .collect().map(_.getLong(0)).toSeq.sorted
    def bucket(id: Long) =
      ((BigInt(id).mod(BigInt(2).pow(32)) * 2654435761L).mod(BigInt(2).pow(32)) % 100).toLong
    val expect = (0L until 200L).filter { i =>
      bucket(i) < (if (i % 2 == 0) 40 else 100)
    }
    assert(got === expect)
    assert(got.size < 200 && got.size > 100) // en thinned, de intact
  }

  test("stratifiedSample: exactly k per stratum by 32-bit hash rank, small strata intact") {
    val s = StructType(Seq(StructField("doc_id", LongType), StructField("src", StringType)))
    val rows = (0L until 50L).map(i => Row(i, "big")) ++
      Seq(Row(100L, "small"), Row(101L, "small"))
    val got = graft.pipeline.Sampling.stratifiedSample(df(s, rows), "doc_id", "src", k = 3)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(2)))
    assert(got.count(_._1 == "big") === 3)
    assert(got.count(_._1 == "small") === 2)     // stratum below k keeps all
    val h32 = (id: Long) =>
      ((BigInt(id).mod(BigInt(2).pow(32)) * 2654435761L).mod(BigInt(2).pow(32))).toLong
    val expectBig = (0L until 50L).sortBy(i => (h32(i), i)).take(3).toSet
    assert(got.filter(_._1 == "big").map(_._2).toSet === expectBig)
    assert(got.filter(_._1 == "small").map(_._3).sorted === Seq(1L, 2L))
  }

  test("mixtureSample: null ids survive only keep-everything domains; bad rates rejected") {
    val s = StructType(Seq(StructField("doc_id", LongType), StructField("lang", StringType)))
    val d = df(s, Seq(Row(null, "en"), Row(null, "de"), Row(1L, "de")))
    val got = rowsOf(graft.pipeline.Sampling.mixtureSample(
      d, "doc_id", "lang", Map("en" -> 40)))
    assert(got.map(_(1)) === Seq("de", "de")) // null-id en row dropped, de (rate 100) kept
    intercept[IllegalArgumentException](
      graft.pipeline.Sampling.mixtureSample(d, "doc_id", "lang", Map("en" -> 150)))
  }

  test("vocabTopK: frequency order with token-asc tiebreak") {
    val d = df(docSchema, Seq(
      Row(1L, "b b b a a c"), Row(2L, "a c d")))
    val got = rowsOf(TextAnalysis.vocabTopK(d, "text", 3))
    assert(got === Seq(Seq("a", 3L), Seq("b", 3L), Seq("c", 2L)))
  }

  test("Stats.groupedMedian: interpolated even-count median, exact odd-count (no per-group sort)") {
    import graft.core.Stats
    val s = StructType(Seq(StructField("g", StringType), StructField("v", DoubleType)))
    val d = df(s, Seq(
      Row("odd", 1.0), Row("odd", 5.0), Row("odd", 9.0),           // median 5
      Row("even", 1.0), Row("even", 3.0), Row("even", 7.0), Row("even", 9.0), // (3+7)/2
      Row("dups", 2.0), Row("dups", 2.0), Row("dups", 8.0),        // median 2
      Row("nulls", 4.0), Row("nulls", null)))                      // null ignored → 4
    val got = rowsOf(Stats.groupedMedian(d, "g", "v"))
    assert(got === Seq(Seq("dups", 2.0), Seq("even", 5.0), Seq("nulls", 4.0), Seq("odd", 5.0)))
  }

  test("groupedQuantile: nearest-rank (p100=max, p50=lower median, p1=min), nulls ignored") {
    import graft.core.Stats
    val s = StructType(Seq(StructField("g", StringType), StructField("v", DoubleType)))
    val d = df(s, Seq(
      Row("a", 10.0), Row("a", 20.0), Row("a", 30.0), Row("a", 40.0), Row("a", null),
      Row("b", 5.0)))
    // group a, n=4: p90 rank=ceil(3.6)=4 → 40; p50 rank=2 → 20; p1 rank=1 → 10
    assert(rowsOf(Stats.groupedQuantile(d, "g", "v", 90)) ===
      Seq(Seq("a", 40.0), Seq("b", 5.0)))
    assert(rowsOf(Stats.groupedQuantile(d, "g", "v", 50)) ===
      Seq(Seq("a", 20.0), Seq("b", 5.0)))
    assert(rowsOf(Stats.groupedQuantile(d, "g", "v", 1)) ===
      Seq(Seq("a", 10.0), Seq("b", 5.0)))
    assert(rowsOf(Stats.groupedQuantile(d, "g", "v", 100)) ===
      Seq(Seq("a", 40.0), Seq("b", 5.0)))
    intercept[IllegalArgumentException](Stats.groupedQuantile(d, "g", "v", 0))
  }

  test("groupedMode: highest count wins, ties break to smallest value, nulls ignored") {
    import graft.core.Stats
    val s = StructType(Seq(StructField("g", StringType), StructField("v", DoubleType)))
    val d = df(s, Seq(
      Row("a", 30.0), Row("a", 30.0), Row("a", 10.0), Row("a", null),
      Row("b", 7.0), Row("b", 2.0), Row("b", 2.0), Row("b", 7.0),  // tie -> 2.0
      Row("c", null)))                                             // all-null: no row
    assert(rowsOf(Stats.groupedMode(d, "g", "v")) ===
      Seq(Seq("a", 30.0, 2L), Seq("b", 2.0, 2L)))
  }

  test("Stats cardinality guard: fails loudly past maxDistinct, approx fallback stays exact-safe") {
    import graft.core.Stats
    val s = StructType(Seq(StructField("g", StringType), StructField("v", DoubleType)))
    val d = df(s, (1 to 10).map(i => Row("a", i.toDouble)))
    // 10 distinct values > maxDistinct=5 → the execution-time guard trips
    val e = intercept[Exception](
      Stats.groupedMedian(d, "g", "v", maxDistinct = 5).collect())
    assert(e.getMessage.contains("distinct values"))
    // at/below the limit the guard is inert
    assert(rowsOf(Stats.groupedMedian(d, "g", "v", maxDistinct = 10)) ===
      Seq(Seq("a", 5.5)))
    // the documented continuous-domain fallback
    val approx = rowsOf(Stats.groupedApproxQuantiles(d, "g", "v",
      Seq(50 -> "p50", 100 -> "p100")))
    assert(approx === Seq(Seq("a", 5.0, 10.0)))
  }

  test("tfIdfTopK: rare terms outrank common ones, term-asc tiebreak, integer scores") {
    val d = df(docSchema, Seq(
      Row(1L, "common rare common"),   // tf(common)=2 df=2; tf(rare)=1 df=1
      Row(2L, "common other")))
    val got = rowsOf(TextAnalysis.tfIdfTopK(d, "doc_id", "text", k = 2))
      .map(r => (r.head, r(1), r(4), r(5)))
    // N=2: idf(common)=(2*1e4)//2=1e4, idf(rare)=2e4
    // doc1: common 2*1e4=2e4, rare 1*2e4=2e4 → tie → term asc: common rank1
    assert(got === Seq(
      (1L, "common", 20000L, 1L), (1L, "rare", 20000L, 2L),
      (2L, "common", 10000L, 2L), (2L, "other", 20000L, 1L)))
  }

  test("piiSignals: email/url/phone token heuristics, clean docs all-zero") {
    val d = df(docSchema, Seq(
      Row(1L, "mail a@b.com or c@d.org x"),       // 2 emails
      Row(2L, "go to https://x.y and http://z.w"),// 2 urls (also contain . but no @)
      Row(3L, "call 555-123-4567 or 5551234567"), // 2 phones
      Row(4L, "nothing here at all 123")))        // clean (3 digits < 7)
    val got = rowsOf(TextAnalysis.piiSignals(d, "doc_id", "text"))
    assert(got === Seq(
      Seq(1L, 2L, 0L, 0L, true),
      Seq(2L, 0L, 2L, 0L, true),
      Seq(3L, 0L, 0L, 2L, true),
      Seq(4L, 0L, 0L, 0L, false)))
  }

  test("countReconcile: match, mismatch, and missing expectation (SSURGO_CheckgSSURGO shape)") {
    val s = StructType(Seq(StructField("x", IntegerType)))
    val t2 = df(s, Seq(Row(1), Row(2)))
    val t3 = df(s, Seq(Row(1), Row(2), Row(3)))
    val got = rowsOf(Validate.countReconcile(
      Map("b_two" -> t2, "a_three" -> t3, "c_unknown" -> t2),
      Map("b_two" -> 2L, "a_three" -> 99L)))
    assert(got === Seq(
      Seq("a_three", 3L, 99L, false),
      Seq("b_two", 2L, 2L, true),
      Seq("c_unknown", 2L, null, false)))
  }

  test("month-name lookup: ListMonths order, case-insensitive, span helper") {
    import graft.sdv.SdvPlanner
    assert(SdvPlanner.monthSeq("January") === 1)
    assert(SdvPlanner.monthSeq("december") === 12)
    val req = SdvPlanner.SdvRequest().months("April", "October")
    assert(req.begMonth === Some(4) && req.endMonth === Some(10))
    intercept[IllegalArgumentException](SdvPlanner.monthSeq("Smarch"))
  }

  test("validate: horizon gaps and comppct bounds") {
    val hzS = StructType(Seq(StructField("cokey", StringType),
      StructField("hzdept", IntegerType), StructField("hzdepb", IntegerType)))
    val hz = df(hzS, Seq(Row("c1", 0, 20), Row("c1", 30, 50), // gap 20→30
      Row("c2", 0, 25), Row("c2", 25, 60))) // tiles fine
    val gaps = rowsOf(Validate.horizonGaps(hz))
    assert(gaps === Seq(Seq("c1", 30, 20)))

    val cS = StructType(Seq(StructField("mukey", StringType), StructField("comppct", DoubleType)))
    val comp = df(cS, Seq(Row("m1", 60.0), Row("m1", 50.0), // 110 > 100
      Row("m2", 40.0), Row("m2", 20.0), // 60 < 75
      Row("m3", 80.0), Row("m3", 20.0))) // 100 ok
    val bad = rowsOf(Validate.comppctBounds(comp))
    assert(bad === Seq(Seq("m1", 110.0), Seq("m2", 60.0)))
  }

  test("quantizeInt8: |q| <= 127, reconstruction error <= scale/2, zero/empty safe") {
    import graft.ann.Vectors
    val vS = StructType(Seq(StructField("vid", LongType),
      StructField("vec", ArrayType(FloatType))))
    val rows = (1L to 200L).map { i =>
      Row(i, Array.tabulate(8)(j => ((i * 31 + j * 17) % 200 - 100) / 37.0f))
    } ++ Seq(Row(998L, Array(0f, 0f, 0f)), Row(999L, Array.empty[Float]))
    val out = df(vS, rows)
      .select(col("vid"), Vectors.quantizeInt8(col("vec")).as("qs"),
        transform(col("vec"), x => x.cast("double")).as("dv"))
      .select(col("vid"), col("qs.scale").as("scale"),
        array_max(transform(col("qs.q"), q => abs(q))).as("qmax"),
        array_max(zip_with(col("dv"), Vectors.dequantizeInt8(col("qs")),
          (x, xh) => abs(x - xh))).as("err"))
      .collect()
    for (r <- out) {
      val scale = if (r.isNullAt(1)) 0.0 else r.getDouble(1)
      if (!r.isNullAt(2)) assert(r.getInt(2) <= 127, s"q overflow: $r")
      if (!r.isNullAt(3)) assert(r.getDouble(3) <= scale / 2 + 1e-12, s"err: $r")
      if (r.getLong(0) >= 998L) assert(r.isNullAt(1)) // degenerate: null scale
    }
  }

  test("Pq: exact duplicate encodes at distance 0 and wins its ADC search") {
    import graft.ann.Pq
    val vS = StructType(Seq(StructField("vid", LongType),
      StructField("vec", ArrayType(FloatType))))
    val a = Array(1f, 0f, 0f, 0f, 0f, 1f, 0f, 0f)
    val b = Array(0f, 1f, 0f, 0f, 1f, 0f, 0f, 0f)
    // c sits nearer codeword 1 in sub 0 and exactly ON it in sub 1, so
    // codeword 0 keeps only the {a, a} members and stays exactly a
    val c = Array(0f, 1f, 1f, 0f, 1f, 0f, 0f, 0f)
    // vid 2 duplicates vid 0 exactly; init codebook = vids 0 and 1
    val corpus = df(vS, Seq(Row(0L, a), Row(1L, b), Row(2L, a), Row(3L, c)))
    val sd = Pq.subDims(corpus, "vid", "vec", ds = 4)
    val cb0 = sd.filter(col("vid") < 2)
      .select(col("sub"), col("vid").as("cid"), col("dim"), col("v").as("cv"))
    val cb1 = Pq.retrain(sd, cb0)
    val enc = Pq.assign(sd, cb1)
    // the duplicate's codes match vid 0's in both subspaces, at d2 = 0
    // (the retrained codeword 0 is the mean of {a, a} = a exactly)
    val dup = rowsOf(enc.filter(col("vid") === 2L)
      .select(col("sub"), col("cid"), col("d2")).orderBy("sub"))
    assert(dup === Seq(Seq(0L, 0L, 0L), Seq(1L, 0L, 0L)))
    // ADC from the duplicate ranks vid 0 first at distance 0
    val top = rowsOf(Pq.adcTopK(sd.filter(col("vid") === 2L), cb1,
      enc.select("vid", "sub", "cid"), k = 1))
    assert(top === Seq(Seq(2L, 0L, 0L, 1L)))
  }

  test("kmeansTrain: planted clusters recovered from off-center seeds") {
    import graft.ann.Ann
    val vS = StructType(Seq(StructField("vid", LongType),
      StructField("vec", ArrayType(FloatType))))
    // two tight clusters around axis directions; seeds start on members
    val mk = (base: Array[Float], eps: Float) => base.map(_ + eps)
    val a = Array(1f, 0f, 0f); val b = Array(0f, 1f, 0f)
    val corpus = df(vS, Seq(
      Row(1L, mk(a, 0.00f)), Row(2L, mk(a, 0.01f)), Row(3L, mk(a, 0.02f)),
      Row(4L, mk(b, 0.00f)), Row(5L, mk(b, 0.01f)), Row(6L, mk(b, 0.02f))))
    val init = corpus.filter(col("vid").isin(1L, 4L))
      .select(col("vid").as("cid"), col("vec").as("cvec"))
    val out = Ann.kmeansTrain(corpus, init, iters = 2)
      .select(col("cid"), col("n_members"),
        element_at(col("cvec"), 1).as("x")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(out.map(_._2).toSeq === Seq(3L, 3L)) // each cluster keeps its 3
    // cluster-a centroid x ≈ mean(1.0, 1.01, 1.02) = 1.01; cluster-b x ≈ 0.01
    assert(math.abs(out(0)._3 - 1.01) < 1e-3 && math.abs(out(1)._3 - 0.01) < 1e-3)
  }
  test("BpeTrain: greedy fold semantics, tiebreak, chained merges, single-char words") {
    import graft.text.BpeTrain
    val s = StructType(Seq(StructField("seq", StringType)))
    // greedy left-to-right under rule (a,a): "a a a" -> "aa a"; boundaries
    // are exact-token ("ba a b": last token "ba" ENDS with "a" but is not
    // the token "a" -> no merge)
    val folded = df(s, Seq(Row("a a a"), Row("b a a b"), Row("x"), Row("ba a b")))
      .select(BpeTrain.applyMerge(col("seq"), "a", "a").as("m"))
      .collect().map(_.getString(0)).toSeq.sorted
    assert(folded === Seq("aa a", "b aa b", "ba a b", "x").sorted)
    // training: "pepper" x2, "pep" x1. pepper pairs: p-e e-p p-p p-e e-r;
    // pep pairs: p-e e-p -> (p,e) = 2*2+1 = 5 wins round 1
    val wS = StructType(Seq(StructField("w", StringType), StructField("n", LongType)))
    val words = df(wS, Seq(Row("pepper", 2L), Row("pep", 1L)))
    val merges = BpeTrain.train(words, rounds = 2)
    assert(merges.head.left === "p" && merges.head.right === "e" && merges.head.n === 5L)
    // round 2 over MERGED forms "pe p p e r"? no: greedy fold gives
    // pepper -> "pe p pe r", pep -> "pe p"; pairs: (pe,p)=2+1=3, (p,pe)=2,
    // (pe,r)=2 -> (pe,p) wins with 3
    assert(merges(1).left === "pe" && merges(1).right === "p" && merges(1).n === 3L)
    // encode under the two ordered merges: pepper -> "pep pe r" (3 tokens)
    val enc = BpeTrain.encodeVocab(words, merges).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(enc("pepper") === (("pep pe r", 3L)))
    assert(enc("pep") === (("pep", 1L)))
    // single-char vocab has no pairs: training stops empty, word survives folds
    val one = BpeTrain.train(df(wS, Seq(Row("a", 5L))), rounds = 3)
    assert(one.isEmpty)
  }

  test("NfcNormalize: codegen == eval, ASCII passthrough, composition classes") {
    import org.apache.spark.sql.graft.NfcNormalize
    import org.apache.spark.unsafe.types.UTF8String
    val s = StructType(Seq(StructField("t", StringType)))
    val rows = Seq(
      Row("plain ascii stays"),
      Row("cafe\u0301"),       // e + combining acute: composes to U+00E9
      Row("\u2126 ohm"),       // OHM SIGN singleton: composes to U+03A9
      Row("A\u030Angstro\u0308m"),  // combining ring / diaeresis compositions
      Row(null))
    val got = df(s, rows).select(graft.text.TextAnalysis.nfc(col("t")).as("n"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getString(0)).toSeq
    assert(got(0) === "plain ascii stays")
    assert(got(1) === "caf\u00e9" && got(1).length === 4)
    assert(got(2) === "\u03a9 ohm")
    assert(got(3) === "\u00c5ngstr\u00f6m")
    assert(got(4) === null)
    // static path: full-ASCII input returns the SAME instance (no alloc)
    val ascii = UTF8String.fromString("abc")
    assert(NfcNormalize.normalize(ascii) eq ascii)
    // interpreted eval agrees with the DataFrame (codegen) path
    assert(NfcNormalize(org.apache.spark.sql.catalyst.expressions.Literal("x"))
      .nullSafeEval(UTF8String.fromString("cafe\u0301")).toString === "caf\u00e9")
    // normalizeText end-to-end: controls stripped, whitespace collapsed
    val norm = df(s, Seq(Row("  ab\t\tc\r\nd  ")))
      .select(graft.text.TextAnalysis.normalizeText(col("t")).as("n"))
      .collect()(0).getString(0)
    assert(norm === "ab c d")
  }

  test("t31 keyword search: integer-idf scoring, deterministic rank, posting-bounded") {
    // corpus: 4 docs, 'spark' appears only in doc 3 (df=1, idf=40000),
    // 'the' in 1/2/4 (df=3, idf=13333), 'dog' in 1 and 4 (df=2, idf=20000)
    val got = graft.text.TextAnalysis.keywordSearch(docs, "doc_id", "text",
        Seq("qa" -> Seq("spark", "dog"), "qb" -> Seq("the", "missing_term")), k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sortBy(t => (t._1, t._4))
    // qa: docs 1 and 4 score tf(dog)=1 * 20000; doc 3 scores 40000 → top-2
    // = (3, 40000), then (1, 20000) by the doc_id tiebreak over doc 4
    assert(got.filter(_._1 == "qa") ===
      Seq(("qa", 3L, 40000L, 1L), ("qa", 1L, 20000L, 2L)))
    // qb: 'missing_term' has no postings (dropped, not an error);
    // 'the' tf=2 in docs 1/2/4 → ties broken by doc_id
    assert(got.filter(_._1 == "qb") ===
      Seq(("qb", 1L, 26666L, 1L), ("qb", 2L, 26666L, 2L)))
  }
}
