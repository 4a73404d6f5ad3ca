package graft.mm

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Materialize

/** Multimodal-column plumbing (training-data mandate): image/audio/video
  * travel as opaque `binary` columns with typed metadata; decode /
  * feature-extract runs as a partition-batched typed transform (the
  * Scala analog of mapInPandas — one JVM-side batch iterator per
  * partition, no per-row driver involvement).
  *
  * The decode is a REAL header parser: BMP and PNG dimensions/format are
  * read from the leading bytes at their file-format-spec offsets (pure
  * integer reads, no codec dependency — BITMAPINFOHEADER width/height at
  * 18/22 little-endian with the pixel-data offset at 10; PNG IHDR
  * width/height at 16/20 big-endian after the 8-byte signature). Full
  * pixel decode would need a codec library this container lacks; header
  * metadata + payload hashing is the part a curation pipeline runs at
  * scan time anyway (dimension filters, exact-dup hashing). */
object Multimodal {

  case class MediaFeatures(doc_id: Long, n_bytes: Long, format: String,
      width: Long, height: Long, content_hash: String)

  /** MD5-hex of `bytes[from, until)` on a reused digest — one
    * StringBuilder and a nibble table, no per-byte Formatter
    * allocation (the naive "%02x".format idiom allocates a Formatter
    * per byte, measurable GC churn at per-frame hashing rates). */
  private val hexChars = "0123456789abcdef".toCharArray
  private def md5Hex(md: java.security.MessageDigest, bytes: Array[Byte],
      from: Int, until: Int): String = {
    md.reset()
    md.update(bytes, from, until - from)
    val d = md.digest()
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i < d.length) {
      sb.append(hexChars((d(i) >> 4) & 0xf)).append(hexChars(d(i) & 0xf))
      i += 1
    }
    sb.toString
  }

  /** Parse a media container's header: (format, width, height,
    * payloadOffset). BMP reads its pixel-data offset from the header
    * (bytes 10-13); PNG payload is taken from byte 24 (the first byte
    * past the IHDR width/height fields — container convention, see
    * [[packContainer]]); anything without a known magic is `raw` with
    * zero dimensions and a full-bytes payload. */
  def decodeHeader(bytes: Array[Byte]): (String, Long, Long, Int) = {
    def u(i: Int): Int = bytes(i) & 0xff
    def le(i: Int): Long = u(i) | (u(i + 1) << 8) | (u(i + 2) << 16) | (u(i + 3).toLong << 24)
    def be(i: Int): Long = (u(i).toLong << 24) | (u(i + 1) << 16) | (u(i + 2) << 8) | u(i + 3)
    if (bytes.length >= 26 && bytes(0) == 'B' && bytes(1) == 'M') {
      // BITMAPINFOHEADER width/height are SIGNED; a negative biHeight
      // marks a top-down BMP — the dimension is its magnitude. The
      // pixel-data offset field is untrusted input: clamp to the
      // actual byte range so a truncated or malformed header can never
      // crash the scan (one bad blob must not kill the whole job).
      val w = math.abs(le(18).toInt.toLong)
      val h = math.abs(le(22).toInt.toLong)
      val off = le(10)
      val safeOff = if (off < 0L || off > bytes.length) 0 else off.toInt
      ("bmp", w, h, safeOff)
    } else if (bytes.length >= 24 && u(0) == 0x89 && bytes(1) == 'P' &&
        bytes(2) == 'N' && bytes(3) == 'G' && u(4) == 0x0d && u(5) == 0x0a &&
        u(6) == 0x1a && u(7) == 0x0a)
      ("png", be(16), be(20), 24)
    else ("raw", 0L, 0L, 0)
  }

  private def le4(c: Column): Column = {
    val h = lpad(hex(c), 8, "0")
    concat(substring(h, 7, 2), substring(h, 5, 2), substring(h, 3, 2), substring(h, 1, 2))
  }
  private def be4(c: Column): Column = lpad(hex(c), 8, "0")

  /** Test-fixture container builder: wraps a payload behind a BMP or
    * PNG header PREFIX carrying the given dimensions at their real spec
    * offsets (BMP: 26-byte file+DIB prefix, pixel offset field = 26;
    * PNG: signature + IHDR length/type/width/height = 24 bytes). The
    * DIB/IHDR tails are truncated — enough for any header-offset
    * decoder, not a renderable image. Codegen-clean expression (hex
    * arithmetic + unhex), no UDF. */
  def packContainer(png: Column, width: Column, height: Column,
      payload: Column): Column = {
    val pay = payload.cast("binary")
    val bmp = concat(
      lit("BM").cast("binary"),
      unhex(le4(length(pay) + 26)), // file size
      unhex(lit("00000000")),       // reserved
      unhex(le4(lit(26))),          // pixel-data offset
      unhex(le4(lit(40))),          // BITMAPINFOHEADER size tag
      unhex(le4(width)), unhex(le4(height)),
      pay)
    val pngB = concat(
      unhex(lit("89504E470D0A1A0A")),         // signature
      unhex(lit("0000000D")),                 // IHDR data length (13)
      lit("IHDR").cast("binary"),
      unhex(be4(width)), unhex(be4(height)),
      pay)
    when(png, pngB).otherwise(bmp)
  }

  private def le2(c: Column): Column = {
    val h = lpad(hex(c), 4, "0")
    concat(substring(h, 3, 2), substring(h, 1, 2))
  }

  /** Test-fixture WAV builder: a complete canonical 44-byte RIFF/WAVE
    * header (PCM format 1, 16-bit) at the real spec offsets — fmt
    * chunk size 16, channels at 22 LE16, sample rate at 24 LE32, byte
    * rate/block align derived, data-chunk length at 40 LE32 — followed
    * by the payload as interleaved 16-bit LE samples. Codegen-clean
    * expression (hex arithmetic + unhex), no UDF. */
  def packWav(channels: Column, rate: Column, payload: Column): Column = {
    val pay = payload.cast("binary")
    val dataLen = length(pay)
    val blockAlign = channels * 2
    concat(
      lit("RIFF").cast("binary"),
      unhex(le4(dataLen + 36)),          // RIFF chunk size
      lit("WAVE").cast("binary"),
      lit("fmt ").cast("binary"),
      unhex(le4(lit(16))),               // fmt chunk size
      unhex(le2(lit(1))),                // PCM
      unhex(le2(channels)),
      unhex(le4(rate)),
      unhex(le4(rate * blockAlign)),     // byte rate
      unhex(le2(blockAlign)),
      unhex(le2(lit(16))),               // bits per sample
      lit("data").cast("binary"),
      unhex(le4(dataLen)),
      pay)
  }

  case class AudioFeatures(doc_id: Long, n_bytes: Long, format: String,
      channels: Option[Long], sample_rate: Option[Long], bits: Option[Long],
      n_frames: Option[Long], duration_ms: Option[Long],
      peak_abs: Option[Long], sum_abs: Option[Long])

  /** Audio-modality decode — with mm01 (image), mm02 (video frames)
    * and mm03 (resize) this completes the modality trio: parse the
    * canonical RIFF/WAVE header (magic at 0/8/12, channels LE16 at 22,
    * sample rate LE32 at 24, bits LE16 at 34, payload at 44), then
    * scan the payload as interleaved SIGNED 16-bit LE samples for the
    * per-doc loudness stats (peak |s|, Σ|s|) a curation pipeline keys
    * on — exact integer arithmetic, oracle-replayable. Frame count =
    * samples div channels; duration = frames·1000 div rate (integer
    * ms). A trailing odd byte is dropped; non-PCM/non-16-bit or
    * magic-less blobs degrade to `raw` with null audio columns (one
    * bad blob must not kill the scan). Same partition-batched typed
    * transform as [[extractFeatures]]; per-row work is O(bytes), no
    * shuffle. */
  def extractAudio(df: DataFrame, idCol: String, binCol: String): Dataset[AudioFeatures] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          def u(i: Int): Int = bytes(i) & 0xff
          def le16(i: Int): Int = u(i) | (u(i + 1) << 8)
          def le32(i: Int): Long = u(i) | (u(i + 1) << 8) | (u(i + 2) << 16) |
            (u(i + 3).toLong << 24)
          val isWav = bytes.length >= 44 &&
            bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F' &&
            bytes(8) == 'W' && bytes(9) == 'A' && bytes(10) == 'V' && bytes(11) == 'E' &&
            bytes(12) == 'f' && bytes(13) == 'm' && bytes(14) == 't' && bytes(15) == ' ' &&
            le16(20) == 1 && le16(34) == 16 && le16(22) >= 1
          if (!isWav)
            AudioFeatures(id, bytes.length.toLong, "raw",
              None, None, None, None, None, None, None)
          else {
            val channels = le16(22).toLong
            val rate = le32(24)
            val nSamples = (bytes.length - 44) / 2
            var i = 0
            var peak = 0L
            var sumAbs = 0L
            while (i < nSamples) {
              val s = le16(44 + 2 * i).toShort.toLong
              val a = math.abs(s)
              if (a > peak) peak = a
              sumAbs += a
              i += 1
            }
            val frames = nSamples / channels
            AudioFeatures(id, bytes.length.toLong, "wav",
              Some(channels), Some(rate), Some(16L), Some(frames),
              Some(if (rate > 0) frames * 1000L / rate else 0L),
              if (nSamples > 0) Some(peak) else None,
              if (nSamples > 0) Some(sumAbs) else None)
          }
        }
      }
  }

  case class FrameSample(doc_id: Long, frame_idx: Long, n_frames: Long,
      frame_hash: String)

  /** Frame sampling over a binary media column — the video-modality
    * half of the mandate's decode/feature-extract/resize/frame-sample
    * set: the container payload (after [[decodeHeader]]'s header
    * offset) is treated as a stream of fixed-`frameBytes` frames and
    * every `stride`-th frame is emitted with its index, the container's
    * total frame count, and a per-frame content hash (the dedup /
    * similarity key a video curation pipeline feeds downstream). A
    * trailing partial frame is dropped on both engine sides (floor).
    * Same partition-batched typed-transform shape as
    * [[extractFeatures]]: one batch iterator per partition, per-row
    * flatMap fan-out of ≤ n/stride rows, no shuffle. */
  def sampleFrames(df: DataFrame, idCol: String, binCol: String,
      frameBytes: Int, stride: Int): Dataset[FrameSample] = {
    require(frameBytes >= 1 && stride >= 1, "frameBytes and stride must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, bytes) =>
          val off = decodeHeader(bytes)._4
          val n = (bytes.length - off) / frameBytes
          (0 until n by stride).iterator.map { i =>
            val lo = off + i * frameBytes
            FrameSample(id, i.toLong, n.toLong,
              md5Hex(md, bytes, lo, lo + frameBytes))
          }
        }
      }
  }

  case class ResizedMedia(doc_id: Long, in_w: Long, in_h: Long,
      out_w: Long, out_h: Long, resized_hash: String)

  /** Nearest-neighbor integer-factor downscale of a RAW gray8 image
    * (one byte per pixel, row-major at the given `width`) — the resize
    * op of the mandate's decode/feature-extract/resize/frame-sample
    * set, on the one pixel layout that needs no codec: output pixel
    * (r, c) is input pixel (r·factor, c·factor). Images whose payload
    * doesn't fill a whole output grid drop the partial tail rows (and
    * sub-`width` payloads produce no row). Emits the resized image's
    * content hash — dims + hash are what a curation pipeline keys on;
    * the resized bytes themselves would land in a new binary column in
    * a real pipeline (same transform, minus the digest).
    * Partition-batched typed transform like [[extractFeatures]];
    * per-row work is O(out pixels), no shuffle. */
  def resizeNearest(df: DataFrame, idCol: String, binCol: String,
      width: Int, factor: Int): Dataset[ResizedMedia] = {
    require(width >= 1 && factor >= 1 && width % factor == 0,
      "width and factor must be positive with factor dividing width")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, bytes) =>
          val inH = bytes.length / width
          val (outW, outH) = (width / factor, inH / factor)
          if (outH == 0) Iterator.empty
          else {
            val out = new Array[Byte](outW * outH)
            var r = 0
            while (r < outH) {
              var c = 0
              while (c < outW) {
                out(r * outW + c) = bytes(r * factor * width + c * factor)
                c += 1
              }
              r += 1
            }
            Iterator.single(ResizedMedia(id, width.toLong, inH.toLong,
              outW.toLong, outH.toLong, md5Hex(md, out, 0, out.length)))
          }
        }
      }
  }

  /** Perceptual difference-hash (dHash) of a gray8 raster, as 8
    * band BYTES rather than one packed 64-bit word: band r =
    * Σ_c [p(r,c) < p(r,c+1)] << c over a 9-wide, 8-row window (the
    * classic 9×8 dHash grid — 8 horizontal-gradient bits per row).
    * Keeping the hash as an 8-element array of 0..255 ints makes the
    * banded blocking key the hash itself (each band is a blocking
    * bucket), keeps every intermediate in small non-overflowing
    * integers, and lets any SQL engine replay it without 64-bit shift
    * semantics. Input is the payload interpreted per the mm03 raw-gray8
    * convention (single-byte text corpus ⇒ `ascii(substring(...))` is
    * the pixel read on both engines); real pixel decode at 100 TB runs
    * in the partition-batched decoder and feeds the same band shape.
    * Rows shorter than the 72-byte window (last read position:
    * r=7, c=8 → byte 72) must be filtered upstream.
    *
    * Scale note: an 8-bit band has only 256 buckets, so band-equality
    * blocking is corpus-bounded only for modest corpora — measured:
    * ~987 live buckets and 1.46M candidate rows over 4.8k docs
    * (sf0.1), 22× that at 10× docs (candidates ∝ n²/buckets at a
    * fixed hash width). The `bits` parameter is that knob, driven by
    * [[adaptiveBandBits]] (the d08 hyperplane-bits / n18 centroid
    * convention): a `bits`-bit band reads a (bits+1)-wide row — window
    * 8·(bits+1) bytes — and gives 2^bits buckets per band, holding
    * expected occupancy flat as the corpus grows. The band count stays
    * 8 at every width, so the hamming ≤ 7 pigeonhole recall argument
    * is UNCHANGED under the adaptive count: any pair differing in ≤ 7
    * bits still has an all-equal band regardless of how wide the
    * bands are. */
  def dhashBands(text: Column, bits: Int = 8): Column = {
    def px(r: Int, c: Int): Column =
      ascii(substring(text, r * (bits + 1) + c + 1, 1))
    array((0 until 8).map { r =>
      (0 until bits).map(c =>
        when(px(r, c) < px(r, c + 1), lit(1 << c)).otherwise(lit(0)))
        .reduce(_ + _)
    }: _*)
  }

  /** Per-band bit width ∝ corpus — the [[Ann.adaptiveCentroidCount]]
    * convention for banded blocking spaces: the smallest b ∈
    * [minBits, maxBits] with expected band-bucket occupancy
    * rows/2^b ≤ targetBucket, so candidate volume (∝ n²/2^b uniform)
    * stays ∝ n as the corpus grows instead of saturating a fixed
    * 2^8 space. Integer-only (no libm log2) so a SQL oracle replays
    * the choice with a CASE ladder, bit-for-bit. maxBits=16 keeps the
    * mm06 window (8·17 = 136 bytes) inside the corpus' text lengths
    * and every band value in small exact ints. */
  def adaptiveBandBits(rows: Long, targetBucket: Long = 4L,
      minBits: Int = 8, maxBits: Int = 16): Int = {
    var b = minBits
    while (b < maxBits && rows > targetBucket * (1L << b)) b += 1
    b
  }

  /** Fragment count for one hot (band, value) bucket of
    * [[phashNearDupPairsBalanced]]'s triangle decomposition: R =
    * max(floorR, ⌈df / ⌊√targetPairs⌋⌉), all integer arithmetic (the
    * [[adaptiveBandBits]] replayability convention). A fragment holds
    * df/R ≤ ⌊√targetPairs⌋ rows (in expectation — fragments are
    * xxhash64-balanced, so concentration is Chernoff-tight at any df
    * that matters), so an (i, j) task's candidate hamming evaluations
    * are ≤ targetPairs — the bound holds at df = 10⁷ exactly as at
    * 10³ (ScaleSpec pins the arithmetic across decades). The
    * driver-side twin of the
    * Column expression inside the operator; keep the two in step. */
  def fragmentCount(df: Long, floorR: Int = 2,
      targetPairs: Long = 1L << 22): Long = {
    val sq = math.max(1L, math.sqrt(targetPairs.toDouble).toLong)
    math.max(floorR.toLong, (df + sq - 1) / sq)
  }

  /** Perceptual near-dup image pairs over [[dhashBands]]: pairs block
    * on band equality (an equi-join — never an all-pairs hamming
    * scan), then the full 64-bit hamming distance verifies the
    * bucket-mates. With 8 bands, any pair at hamming ≤ 7 has a
    * pigeonhole-guaranteed all-equal band, so recall at maxHamming ≤ 7
    * is COMPLETE — the blocked result provably equals the all-pairs
    * twin (deterministic, unlike MinHash banding's s-curve).
    * Returns (id_a, id_b, hamming). */
  def phashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 7, bits: Int = 8): DataFrame = {
    require(maxHamming <= 7,
      s"phashNearDupPairs: maxHamming=$maxHamming breaks the 8-band pigeonhole")
    // defensive enforcement of the dhashBands window contract (8 rows
    // of bits+1 bytes): ascii(substring(...)) past the end yields 0,
    // so every too-short row would hash to the SAME all-zero bands and
    // pair up at hamming 0 if a caller forgets the upstream filter.
    // For callers that did filter, this is a no-op predicate absorbed
    // into the scan.
    val hashed = docs.filter(length(col(textCol)) >= 8 * (bits + 1))
      .select(col(idCol).as("did"), dhashBands(col(textCol), bits).as("bands"))
    val ex = hashed.select(col("did"), col("bands"),
      posexplode(col("bands")).as(Seq("band", "bv")))
    // hamming is computed and thresholded MAP-SIDE on the joined
    // candidate rows, BEFORE the pair-distinct: gradient bands over
    // natural text are far from uniform, so band buckets run hot and
    // the candidate volume dwarfs the surviving pairs — deduping first
    // would shuffle every collision row with both band arrays attached
    // (measured 5.8 s → 2.2 s steady at sf0.1). A pair colliding in k bands
    // computes its hamming k ≤ 8 times; that recompute is 64 integer
    // ops against a shuffle row saved. hamming rides through the
    // distinct unchanged (it is a function of the pair).
    val hamming = (0 until 8)
      .map(i => expr(s"bit_count(a.bands[$i] ^ b.bands[$i])"))
      .reduce(_ + _).cast("long")
    ex.as("a").join(ex.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.did") < col("b.did"))
      .select(col("a.did").as("id_a"), col("b.did").as("id_b"),
        hamming.as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  /** [[phashNearDupPairs]] with HOT-BUCKET balancing (the skew story
    * for banded image dedup): natural corpora carry boilerplate
    * regions — a letterhead, a logo strip, a black bar — that put one
    * band VALUE in a large fraction of documents, and the banded
    * self-join then lands that whole bucket (and its |bucket|² hamming
    * evaluations) in ONE reducer while the rest idle. Adaptive band
    * WIDTH ([[adaptiveBandBits]]) spreads uniform mass but cannot
    * spread a planted constant, and unlike the text family's
    * anchor-frequency cap, DROPPING the hot band would break the
    * hamming ≤ 7 pigeonhole completeness (a pair's only all-equal band
    * may be the boilerplate one). So the hot buckets are balanced
    * instead, with output provably identical:
    *
    *  - a two-phase census (the d12 discipline — one aggregation over
    *    the 8n band rows) finds (band, value) buckets with df >
    *    `hotDf`; the hot set is broadcast (tiny by construction);
    *  - COLD rows self-join exactly as [[phashNearDupPairs]];
    *  - HOT rows go through a TRIANGLE decomposition: each row is
    *    hashed into one of R fragments, the A-side replicates a
    *    row to fragment pairs (f, j ≥ f) and the B-side to (i ≤ f, f),
    *    so every unordered row pair meets in exactly one (i, j) task —
    *    per-task reads fall from 2·|bucket| to ~2·|bucket|/R and
    *    the |bucket|² hamming work spreads over R·(R+1)/2
    *    reducers (total work unchanged; replication cost ≤ R+1
    *    copies of only the hot rows).
    *
    * R is PER HOT VALUE, derived from the census df the hot split
    * already computes ([[fragmentCount]]): R = max(saltRFloor,
    * ⌈df/⌊√targetPairsPerTask⌋⌉), so any fragment-pair task holds
    * ≤ (df/R)² ≤ targetPairsPerTask candidate hamming evaluations no
    * matter how hot the value runs. A static R is a CONSTANT spread —
    * at 100 TB a boilerplate band with 10⁷ members under R=8 still
    * puts (10⁷/8)² ≈ 1.6·10¹² comparisons in one task; the adaptive R
    * grows with df (≈ 4.9k fragments for that bucket at the default
    * 2²² target) while tiny hot buckets stay at the floor instead of
    * paying R·(R+1)/2 near-empty tasks. Replication cost stays linear:
    * ~(R+1)/2 copies per hot row ⇒ total copies ≈ df·R ≈ df²/√target —
    * the honest pair count divided by √target, never more than the
    * hamming work itself. Both join sides derive R from the SAME
    * broadcast census row, so the fragment grids always agree.
    *
    * Pairs are canonicalized (least, greatest) in both paths and
    * deduped, so the result equals [[phashNearDupPairs]] row-for-row
    * (ScaleSpec pins set equality and the per-task spread under a
    * planted 90%-hot band, plus the fragmentCount arithmetic across
    * decades up to the 10⁷-member design point). */
  def phashNearDupPairsBalanced(docs: DataFrame, idCol: String,
      textCol: String, maxHamming: Int = 7, bits: Int = 8,
      hotDf: Long = 256L, saltRFloor: Int = 2,
      targetPairsPerTask: Long = 1L << 22): DataFrame = {
    require(maxHamming <= 7,
      s"phashNearDupPairsBalanced: maxHamming=$maxHamming breaks the 8-band pigeonhole")
    require(saltRFloor >= 2, "saltRFloor must spread at least 2 ways")
    require(targetPairsPerTask >= 4L,
      "targetPairsPerTask must allow at least a 2x2 fragment task")
    val hashed = docs.filter(length(col(textCol)) >= 8 * (bits + 1))
      .select(col(idCol).as("did"), dhashBands(col(textCol), bits).as("bands"))
    // the band rows feed FIVE independent subtrees (census, both cold
    // self-join sides, both hot fragment sides) whose stages run
    // concurrently — materialize ONCE, eagerly, or each consumer
    // re-evaluates the text hash pass (r18 StageProbe: four full
    // dhashBands scans). At true corpus scale this frame is corpus×8
    // rows; swap the checkpoint for a parquet round-trip there (the
    // Materialize scaladoc note) — this operator's battery input is
    // bounded by construction (mm13's doc_id < 5000 stressor).
    val ex = Materialize.checkpoint(
      hashed.select(col("did"), col("bands"),
        posexplode(col("bands")).as(Seq("band", "bv"))), eager = true)
    // hot census — consumed by both the anti and inner splits, so it
    // lands once (constraint-clean: the splits' union is downstream).
    // df rides along: the inner join below hands every hot row its
    // bucket's df, which is what the per-value fragment count reads.
    val hot = Materialize.checkpoint(
      ex.groupBy(col("band"), col("bv")).agg(count(lit(1)).as("df"))
        .filter(col("df") > hotDf), eager = true)
    val cold = ex.join(broadcast(hot), Seq("band", "bv"), "left_anti")
    val hotRows = ex.join(broadcast(hot), Seq("band", "bv"))
    val hamming = (0 until 8)
      .map(i => expr(s"bit_count(a.bands[$i] ^ b.bands[$i])"))
      .reduce(_ + _).cast("long")
    val coldPairs = cold.as("a").join(cold.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.did") < col("b.did"))
      .select(col("a.did").as("id_a"), col("b.did").as("id_b"),
        hamming.as("hamming"))
    // per-value fragment count from the bucket's census df — the
    // integer twin of fragmentCount (ceil-div by ⌊√target⌋, floored),
    // evaluated on the broadcast-joined df so both sides agree
    val sq = math.max(1L, math.sqrt(targetPairsPerTask.toDouble).toLong)
    val rCol = greatest(lit(saltRFloor),
      floor((col("df") + lit(sq - 1)) / lit(sq))).cast("int")
    val f = pmod(xxhash64(col("did")), rCol.cast("long")).cast("int")
    val aSide = hotRows.withColumn("r", rCol).withColumn("fi", f)
      .withColumn("fj", explode(sequence(col("fi"), col("r") - 1)))
    val bSide = hotRows.withColumn("fj", f)
      .withColumn("fi", explode(sequence(lit(0), col("fj"))))
    val hotPairs = aSide.as("a").join(bSide.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.fi") === col("b.fi") && col("a.fj") === col("b.fj") &&
          col("a.did") =!= col("b.did"))
      .select(least(col("a.did"), col("b.did")).as("id_a"),
        greatest(col("a.did"), col("b.did")).as("id_b"),
        hamming.as("hamming"))
    coldPairs.unionByName(hotPairs)
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  /** Audio fingerprint of a headerless 16-bit-LE PCM payload (the mm04
    * sample convention, minus the RIFF container) as 4 band WORDS:
    * band r covers (bits+1) frames of `spf` samples (default 9 frames
    * of 4 — the fixed-1,024-bucket shape; [[audioBandLayout]] picks
    * finer frames for bigger corpora); frame
    * energy is Σ|signed16|; bit c of band r = [E(r,c) < E(r,c+1)] —
    * the 1-D time-domain twin of [[dhashBands]]' 2-D gradient hash,
    * and like it AMPLITUDE-SCALE-ROBUST for uniform gain (energy
    * ordering is invariant under positive scaling; a content hash is
    * not). Samples read as code points per the single-byte corpus
    * convention (su = cp(2i) + 256·cp(2i+1), signed two's-complement
    * — the ≥0x80 high-byte branch is reachable only through planted
    * non-ASCII rows, which the mm07 gate ships). Window: 144 samples
    * = 288 chars; shorter rows must be filtered upstream (enforced in
    * [[audioNearDupPairs]]). INPUT CONTRACT: BMP-only text — this form
    * indexes CODEPOINTS (`ascii(substr(...))`) while the decoder twin
    * [[audioBandsDecode]] indexes UTF-16 code units (`charAt`); the
    * two agree for every BMP character, but a supplementary character
    * (one codepoint, two code units) would shift indexing and values
    * between them. The corpus generator emits only BMP text; a future
    * non-BMP corpus must normalize upstream (or move both forms to one
    * indexing scheme) before the decoder==Column equivalence gate is
    * meaningful.
    *
    * Shape lesson (r9 verdict): the first cut inlined the full energy
    * pyramid per band bit — ~1,500 `ascii(substring(...))` nodes in
    * ONE Project expression, which blew Janino's 64 KB method limit,
    * SILENTLY disabled whole-stage codegen, and left a giant
    * interpreted tree recomputed on both self-join sides (37.7 s at
    * sf0.1 for 2,577 docs). This form stages sample→energy→band as
    * nested higher-order functions instead: the expression tree is a
    * few dozen nodes (interpreted BY DESIGN — HOFs are
    * CodegenFallback, a visible plan property, not a silent compile
    * failure) and per-row work is O(window). The hot path
    * ([[audioNearDupPairs]]) doesn't evaluate this at all — it hashes
    * in the partition-batched decoder ([[audioBandsDecode]]) where
    * real PCM decode lives at 100 TB; this Column form is the
    * declarative twin the oracle replays and the equivalence spec
    * cross-checks against the decoder. */
  def audioBands(text: Column, bits: Int = 8, spf: Int = 4): Column = {
    def cp(pos: Column): Column = ascii(text.substr(pos, lit(1)))
    // |signed16| of sample i (0-based): su read once per use site —
    // each energy term is built fresh from its lambda index, so no
    // subexpression is ever inlined more than the 2× adjacent-energy
    // reuse inherent to the gradient definition
    def sampleAbs(i: Column): Column = {
      val su = cp(i * 2 + 1) + cp(i * 2 + 2) * 256
      abs(when(su >= 32768, su - 65536).otherwise(su))
    }
    def energy(f: Column): Column =
      (0 until spf).map(i => sampleAbs(f * spf + i)).reduce(_ + _)
    // Horner fold MSB→LSB: acc' = 2·acc + bit, so no variable-shift
    // primitive is needed and every intermediate stays a small int
    transform(sequence(lit(0), lit(3)), r =>
      aggregate(sequence(lit(bits - 1), lit(0), lit(-1)), lit(0), (acc, c) =>
        acc + acc + when(energy(r * (bits + 1) + c) < energy(r * (bits + 1) + c + 1), lit(1))
          .otherwise(lit(0))))
  }

  /** Blocking layout for the audio fingerprint ∝ corpus — the
    * [[adaptiveBandBits]] convention under mm07's FIXED window budget
    * (144 samples = 288 chars, what the corpus' text lengths support):
    * instead of lengthening the window, finer frames buy more gradient
    * bits from the same samples. The ladder keeps
    * 4 bands × (bits+1) frames × spf samples = 144 exactly:
    * (8 bits, 4 spf) → 2^8 buckets per band; (11, 3) → 2^11;
    * (17, 2) → 2^17 — expected per-band occupancy n/2^bits stays
    * ≤ targetBucket until past 500k rows, at which point a longer
    * window (real audio is not 288 chars) is the next knob. The BAND COUNT stays 4 at every
    * rung, so the hamming ≤ 3 pigeonhole recall argument is unchanged
    * under the adaptive choice. The trade is real and documented:
    * shorter frames average less noise per energy, so the fingerprint
    * gets more content-sensitive as it gets more selective. */
  def audioBandLayout(rows: Long, targetBucket: Long = 4L): (Int, Int) =
    if (rows <= targetBucket * (1L << 8)) (8, 4)
    else if (rows <= targetBucket * (1L << 11)) (11, 3)
    else (17, 2)

  /** Partition-batched twin of [[audioBands]]: (doc_id, bands) with
    * the 4 band bytes computed in plain per-row Scala — the same
    * place [[extractAudio]] parses PCM, which is where a real codec
    * runs at 100 TB. O(window) integer work per row, no shuffle, no
    * codegen surface to fall off (the r9 mm07 lesson — see
    * [[audioBands]]). Rows shorter than 288 chars must be filtered
    * upstream, and input must be BMP-only: `charAt` here reads UTF-16
    * code units while the Column twin reads codepoints — identical on
    * the BMP, divergent on supplementary characters (contract spelled
    * out on [[audioBands]]). ScaleSpec pins decoder ==
    * Column-expression equality. */
  def audioBandsDecode(df: DataFrame, idCol: String,
      textCol: String, bits: Int = 8, spf: Int = 4): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val nFrames = 4 * (bits + 1)
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val e = new Array[Int](nFrames)
          var f = 0
          while (f < nFrames) {
            var s = 0
            var i = 0
            while (i < spf) {
              val j = (f * spf + i) * 2
              val su = text.charAt(j).toInt + text.charAt(j + 1).toInt * 256
              val sv = if (su >= 32768) su - 65536 else su
              s += math.abs(sv)
              i += 1
            }
            e(f) = s
            f += 1
          }
          val bands = new Array[Int](4)
          var r = 0
          while (r < 4) {
            var b = 0
            var c = 0
            while (c < bits) {
              if (e(r * (bits + 1) + c) < e(r * (bits + 1) + c + 1)) b |= 1 << c
              c += 1
            }
            bands(r) = b
            r += 1
          }
          (id, bands)
        }
      }.toDF("did", "bands")
  }

  /** Audio near-dup pairs over the [[audioBandsDecode]] fingerprint:
    * band-equality blocking (equi-join — never an all-pairs hamming
    * scan), full 32-bit hamming verified on bucket-mates. With 4
    * bands, hamming ≤ 3 has a pigeonhole-guaranteed all-equal band ⇒
    * recall is COMPLETE and the blocked result provably equals the
    * all-pairs twin, as in [[phashNearDupPairs]]. Returns
    * (id_a, id_b, hamming).
    *
    * The hashed side is eagerly localCheckpoint-ed before the
    * self-join: the fingerprint feeds BOTH join sides (and any union
    * branches upstream collapse into the one materialization), so the
    * hash is computed exactly once — the r9 verdict measured the same
    * join 0.69 s on materialized bands vs 39 s recomputing an
    * interpreted hash per side. At corpus scale the fingerprint table
    * is a landed curation artifact; in-session the checkpoint gives
    * the same compute-once property with ContextCleaner lifecycle.
    *
    * Scale note (blocking space): the (bits, spf) layout comes from
    * [[audioBandLayout]] — the per-band space widens with the corpus
    * under the fixed 144-sample window, holding expected bucket
    * occupancy ≤ targetBucket as n grows (the d08 hyperplane-bits
    * convention; the fixed 4×2⁸ = 1,024-bucket default measured its
    * hottest bucket at 84 rows over 4.8k docs at sf0.1 and saturates
    * ∝ n²/1024 past that). The 4-band pigeonhole (hamming ≤ 3 ⇒ an
    * all-equal band) holds at every rung, so blocking recall stays
    * COMPLETE under the adaptive layout and the oracle stays the
    * literal all-pairs twin. Callers must pass the SAME layout to the
    * oracle side; the window filter (4·(bits+1)·spf·2 chars = 288 at
    * every ladder rung) is enforced here. */
  def audioNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, bits: Int = 8, spf: Int = 4): DataFrame = {
    require(maxHamming <= 3,
      s"audioNearDupPairs: maxHamming=$maxHamming breaks the 4-band pigeonhole")
    val hashed = Materialize.checkpoint(audioBandsDecode(
      docs.filter(length(col(textCol)) >= 4 * (bits + 1) * spf * 2),
      idCol, textCol, bits, spf), eager = true)
    val ex = hashed.select(col("did"), col("bands"),
      posexplode(col("bands")).as(Seq("band", "bv")))
    // hamming computed + thresholded map-side before the pair-distinct
    // (the mm06 measurement: dedup-first shuffles every collision row
    // with both band arrays attached)
    val hamming = (0 until 4)
      .map(i => expr(s"bit_count(a.bands[$i] ^ b.bands[$i])"))
      .reduce(_ + _).cast("long")
    ex.as("a").join(ex.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.did") < col("b.did"))
      .select(col("a.did").as("id_a"), col("b.did").as("id_b"),
        hamming.as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  /** Scene-change detection over a [[sampleFrames]] frame table — the
    * video-curation signal after frame hashing: a CUT is a sampled
    * frame whose content hash differs from its predecessor's, so a
    * static-scene video yields few cuts and a slideshow yields one per
    * frame (cut density and unique-frame count are what a video
    * curation pipeline thresholds on — near-static screen recordings
    * vs real footage). Consumes (doc_id, frame_idx, n_frames,
    * frame_hash) rows at ANY stride (cuts are then "changed since the
    * previous SAMPLED frame" — the standard subsampled-detection
    * semantic). Emits (doc_id, n_frames, n_cuts, n_unique) per doc.
    *
    * Plan: one lag window + the per-doc aggregate, both partitioned on
    * doc_id — the aggregate rides the window's exchange (one shuffle
    * total), and the window frame is bounded by a single doc's sampled
    * frames, never the corpus. */
  def sceneCuts(frames: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    frames
      .withColumn("__prev", lag(col("frame_hash"), 1).over(w))
      .groupBy(col("doc_id"))
      .agg(max(col("n_frames")).as("n_frames"),
        sum(when(col("__prev").isNotNull && col("__prev") =!= col("frame_hash"),
          1L).otherwise(0L)).as("n_cuts"),
        countDistinct(col("frame_hash")).as("n_unique"))
  }

  /** KEYFRAME selection over a [[sampleFrames]] frame table — the
    * artifact video curation ships downstream (one representative
    * frame per scene, captioned/embedded instead of every frame):
    * scenes are maximal runs of identical consecutive frame hashes
    * ([[sceneCuts]]' segmentation made explicit — scene_id is the
    * running cut count, 1-based since the first frame opens scene 1),
    * and each scene's keyframe is its FIRST frame (deterministic; the
    * earliest appearance is the standard choice when frames within a
    * scene hash identically). Emits one row per (doc_id, scene_id):
    * (doc_id, scene_id, key_frame_idx, n_scene_frames).
    *
    * Plan: one lag window + one running-sum window (both partitioned
    * on doc_id, both RUNNING frames — the r11 UnboundedFollowing ban
    * applies here too) + the per-(doc, scene) aggregate riding the
    * same exchange: one shuffle total, window state bounded by a
    * single doc's sampled frames. */
  def keyframes(frames: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    frames
      .withColumn("__cut",
        when(lag(col("frame_hash"), 1).over(w).isNull ||
          lag(col("frame_hash"), 1).over(w) =!= col("frame_hash"), 1L)
          .otherwise(0L))
      .withColumn("scene_id",
        sum(col("__cut")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("scene_id"))
      .agg(min(col("frame_idx")).as("key_frame_idx"),
        count(lit(1)).as("n_scene_frames"))
  }

  /** Partition-batched feature extraction over a binary column: header
    * decode (format, dimensions) + payload content hash. */
  def extractFeatures(df: DataFrame, idCol: String, binCol: String): Dataset[MediaFeatures] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, bytes) =>
          val (fmt, w, h, off) = decodeHeader(bytes)
          MediaFeatures(id, bytes.length.toLong, fmt, w, h,
            md5Hex(md, bytes, off, bytes.length))
        }
      }
  }
}
