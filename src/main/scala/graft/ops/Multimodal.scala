package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media payloads travel as opaque
  * `binary` columns beside typed metadata, and per-record decode /
  * feature-extract / thumbnail / frame-sample run as partition-local
  * batch transforms over a typed `Dataset` (`mapPartitions`) — the
  * Scala analogue of arrow-batched Python UDFs: one iterator per
  * partition, codec state amortized across the batch, no per-row
  * driver involvement.
  *
  * Decode is real wherever from-scratch code suffices: [[Codecs]]
  * turns PNG (Inflater + unfilter), uncompressed BMP, PCM WAV, GIF
  * (from-scratch LZW), and baseline JPEG (from-scratch Huffman +
  * IDCT, [[Jpeg]]) payloads into actual pixels/samples, and walks
  * AVI frames — uncompressed `00db` DIBs parsed directly, MJPEG
  * `00dc` chunks through the real JPEG decoder, RLE8 `00dc` chunks
  * through the `strf`-described RLE expansion. Only compressed AVI
  * codecs other than MJPEG/RLE8/CRAM and
  * unrecognized bytes fall back to [[FakeCodec]] — an
  * explicitly-marked STUB that interprets payload bytes as pixels. The Spark-side contract — schema, partitioning,
  * batch shape, feature layout — is identical on both paths; the
  * `decoder` column says which one produced each row.
  *
  * Scale: feature extraction is embarrassingly parallel (narrow,
  * partition-local); payload bytes never shuffle — only the extracted
  * (small) features do. At 100 TB the payload column stays in parquet
  * and is column-pruned away by every query that doesn't need it.
  */
object Multimodal {

  /** A media row: opaque payload + typed metadata. */
  final case class MediaRecord(
      media_id: Long,
      media_type: String, // "image" | "audio" | "video"
      width: Int,
      height: Int,
      payload: Array[Byte])

  final case class MediaFeatures(
      media_id: Long,
      media_type: String,
      decoder: String,          // "png"|"bmp"|"gif"|"wav"|"jpeg" (real) | "stub"
      n_bytes: Int,
      mean_byte: Double,
      histogram: Array[Long],   // 16-bin byte-value histogram
      thumbnail: Array[Byte])   // 4x4 average-pooled "pixels"

  /** STUB codec — deterministic fake for the formats whose decode we
    * don't reimplement (compressed AVI codecs other than MJPEG/RLE8/CRAM)
    * and for unrecognized bytes.
    * PNG/BMP/WAV/GIF/baseline-JPEG payloads never reach it:
    * [[Codecs]] decodes those for real (from-scratch — Inflater,
    * plain offsets, own LZW, own Huffman+IDCT). `decode` treats the
    * payload as a row-major grayscale pixel buffer of the declared
    * dimensions.
    */
  object FakeCodec {
    /** STUB: a real implementation would parse an image container;
      * this one validates lengths and passes bytes through.
      */
    def decode(payload: Array[Byte], width: Int, height: Int): Array[Byte] = {
      require(width * height <= payload.length,
        s"payload too short for ${width}x$height")
      java.util.Arrays.copyOf(payload, width * height)
    }

    /** Average-pool a grayscale buffer down to `side`×`side`. */
    def thumbnail(px: Array[Byte], w: Int, h: Int, side: Int = 4): Array[Byte] = {
      val out = new Array[Byte](side * side)
      var ty = 0
      while (ty < side) {
        var tx = 0
        while (tx < side) {
          val x0 = tx * w / side; val x1 = math.max(x0 + 1, (tx + 1) * w / side)
          val y0 = ty * h / side; val y1 = math.max(y0 + 1, (ty + 1) * h / side)
          var sum = 0L; var n = 0
          var y = y0
          while (y < y1) {
            var x = x0
            while (x < x1) { sum += px(y * w + x) & 0xff; n += 1; x += 1 }
            y += 1
          }
          out(ty * side + tx) = (sum / math.max(n, 1)).toByte
          tx += 1
        }
        ty += 1
      }
      out
    }

    /** Frame-sample a "video" payload: every `stride`-th frame's first
      * pixel row — a stand-in for keyframe extraction.
      */
    def sampleFrames(
        payload: Array[Byte], frameBytes: Int, stride: Int
    ): Seq[Array[Byte]] = {
      val frames = payload.length / math.max(frameBytes, 1)
      (0 until frames by stride).map { f =>
        java.util.Arrays.copyOfRange(
          payload, f * frameBytes, f * frameBytes + frameBytes)
      }
    }
  }

  /** Build a deterministic media table from the documents fixture:
    * payload = UTF-8 text bytes (an opaque deterministic byte source),
    * dimensions derived from the payload length. Stands in for a real
    * image/audio parquet table.
    */
  def mediaTable(s: SparkSession, dir: String): Dataset[MediaRecord] = {
    import s.implicits._
    // [[Dedup.Par.widen]] parallelism floor: the synthesis/decode
    // mapPartitions below otherwise run as ONE task over the
    // single-row-group fixture scan (guide §2.5 input skew; no-op on
    // real multi-split corpora) — same remedy as the r16 dedup/KN
    // explode roots, extended to the media family this round.
    Par.widen(s.read.parquet(s"$dir/documents.parquet"))
      .select(col("doc_id"), col("text"), col("n_chars"))
      .as[(Long, String, Long)]
      .map { case (id, text, _) =>
        val payload = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val w = math.max(4, math.min(64, math.sqrt(payload.length.toDouble).toInt))
        val h = math.max(1, payload.length / w)
        val mt = (id % 3) match {
          case 0 => "image"; case 1 => "audio"; case _ => "video"
        }
        MediaRecord(id, mt, w, h, payload)
      }
  }

  /** Real-format media table over the documents fixture: doc k's
    * payload is an actual container — 9×8 24-bit BMP (image rows),
    * 65-sample 8-bit PCM WAV (audio), or 4-frame uncompressed AVI
    * (video), chosen by `doc_id % 3` — whose pixels/samples are the
    * first md5 byte of token (i mod ntokens), the same
    * oracle-recomputable derivation as [[PerceptualHash
    * .syntheticImages]]. Every payload round-trips the REAL encoders
    * and decoders, so `mm_features`/`mm_frames` carry full DuckDB
    * oracles: the oracle recomputes the decoded content
    * arithmetically while the engine goes through actual bytes.
    */
  def realMediaTable(s: SparkSession, dir: String): Dataset[MediaRecord] = {
    import s.implicits._
    // parallelism floor — see [[mediaTable]]
    mdRows(Par.widen(s.read.parquet(s"$dir/documents.parquet"))) { (id, tok) =>
      Some((id % 3) match {
        case 0 =>
          val gray = Array.tabulate(9 * 8)(i => tok(i).toByte)
          MediaRecord(id, "image", 9, 8,
            PerceptualHash.encodeBmp(gray, 9, 8))
        case 1 =>
          val pcm = Array.tabulate(65)(i => tok(i).toByte)
          MediaRecord(id, "audio", 65, 1, PerceptualHash.encodeWav(pcm))
        case _ =>
          val frames = (0 until 4).map(f =>
            Array.tabulate(9 * 8)(i => tok(f * 72 + i).toByte))
          MediaRecord(id, "video", 9, 8,
            PerceptualHash.encodeAvi(frames, 9, 8))
      })
    }
  }

  /** The md5 fixture scaffold of every real-codec query: `f(id, tok)`'s
    * rows for each document of `docs` (a documents scan), where
    * `tok(i)` is the first md5 byte, unsigned, of token (i mod ntokens)
    * of the lower-cased text split on whitespace — the derivation the
    * DuckDB oracles replay. One digest per partition, row-local, no
    * shuffle.
    */
  private def mdRows[T: Encoder](docs: DataFrame)(
      f: (Long, Int => Int) => IterableOnce[T]): Dataset[T] = {
    import docs.sparkSession.implicits._
    docs
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("toks"))
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, toks) =>
          f(id, i => md.digest(toks(i % toks.size)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))(0) & 0xff)
        }
      }
  }

  /** Sum of a gray buffer's unsigned pixel values. */
  private def graySum(px: Array[Byte]): Long = {
    var sum = 0L
    var i = 0
    while (i < px.length) { sum += px(i) & 0xff; i += 1 }
    sum
  }

  /** Mean unsigned pixel value of a gray buffer. */
  private def grayMean(px: Array[Byte]): Double =
    graySum(px).toDouble / px.length

  /** (sum, min, max) of the `n` decoded samples `at(0)`..`at(n - 1)`. */
  private def sampleStats(n: Int)(at: Int => Int): (Long, Int, Int) = {
    var sum = 0L; var mn = Int.MaxValue; var mx = Int.MinValue
    var i = 0
    while (i < n) {
      val v = at(i)
      sum += v; if (v < mn) mn = v; if (v > mx) mx = v
      i += 1
    }
    (sum, mn, mx)
  }

  /** Partition-local batched feature extraction: decode (stub),
    * histogram, mean, thumbnail. The `mapPartitions` shape mirrors an
    * arrow-batched UDF: per-partition setup happens once, rows stream
    * through an iterator.
    */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition codec "setup" would go here (amortized state)
      it.map { m =>
        // real JDK-only decode for PNG/BMP/GIF/WAV/JPEG; real AVI
        // frame walk for uncompressed video; declared stub otherwise
        val (dec, w, h, px) = Codecs.decode(m.payload) match {
          case Some(d) => (d.kind, d.width, d.height, d.gray)
          case None => PerceptualHash.aviFrameGrays(m.payload) match {
            case Some((fw, fh, grays)) =>
              // frames stack vertically: features see one fw × fh·n grid
              ("avi", fw, fh * grays.length, grays.toArray.flatten)
            case None =>
              ("stub", m.width, m.height,
                FakeCodec.decode(m.payload, m.width, m.height))
          }
        }
        val hist = new Array[Long](16)
        var sum = 0L
        var i = 0
        while (i < px.length) {
          val b = px(i) & 0xff
          hist(b >> 4) += 1
          sum += b
          i += 1
        }
        MediaFeatures(
          m.media_id, m.media_type, dec, m.payload.length,
          if (px.isEmpty) 0.0 else sum.toDouble / px.length,
          hist,
          FakeCodec.thumbnail(px, w, h))
      }
    }
  }

  /** Feature relation registered as a query: payload-level facts that
    * an external oracle can recompute (byte length + content hash),
    * plus the decoded mean — proof the binary column round-trips.
    */
  def featureSummary(s: SparkSession, dir: String): DataFrame =
    extractFeatures(mediaTable(s, dir)).toDF()
      .select(col("media_id"), col("media_type"), col("decoder"),
        col("n_bytes"), col("mean_byte"))

  /** Fully-oracled feature relation over [[realMediaTable]]: every row
    * decodes through a REAL codec (BMP / WAV / AVI), and the mean +
    * 16-bin histogram of the decoded pixels/samples are recomputed
    * arithmetically by the DuckDB oracle from the md5 token derivation
    * — equality pins the encode→decode→feature path lossless, the
    * [[PerceptualHash]] `mm_near_dup` technique applied to features.
    * The histogram travels as a comma-joined string so both engines
    * hash the identical scalar.
    */
  def featureSummaryReal(s: SparkSession, dir: String): DataFrame =
    extractFeatures(realMediaTable(s, dir)).toDF()
      .select(col("media_id"), col("media_type"), col("decoder"),
        col("n_bytes"), col("mean_byte"),
        concat_ws(",", col("histogram").cast("array<string>")).as("hist"))

  /** Fully-oracled COLOR-moment relation through the JPEG chroma
    * path: every document derives a deterministic 32×16 4:2:0
    * baseline JPEG ([[Jpeg.encodeDc420]] — twelve DC-only blocks
    * whose values are the md5 token bytes), the engine REALLY decodes
    * it ([[Jpeg.decodeColor]]: Huffman, dequant, per-component IDCT,
    * subsampled Cb/Cr plane placement), and the per-plane means cross
    * the engine boundary. The oracle recomputes them from the
    * generative derivation: y_mean = mean of bytes 0-7, cb of 8-9,
    * cr of 10-11 — divisions by 8 and 2 are IEEE-exact, so the
    * doubles hash-match. Any defect anywhere in the color path
    * (entropy decode, predictor, dequant, IDCT constant, plane
    * geometry) breaks the equality.
    *
    * Shape at scale: mapPartitions over the documents scan — row-local
    * encode+decode, no shuffle, no driver state (the same batched-UDF
    * shape as [[extractFeatures]]).
    */
  def colorFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mdRows(s.read.parquet(s"$dir/documents.parquet")) { (id, tok) =>
      val y = Array.tabulate(8)(tok)
      val cb = Array.tabulate(2)(i => tok(8 + i))
      val cr = Array.tabulate(2)(i => tok(10 + i))
      val d = Jpeg.decodeColor(Jpeg.encodeDc420(y, cb, cr, 2, 1))
        .getOrElse(throw new IllegalStateException(
          s"fixture jpeg failed to decode for doc $id"))
      Some((id, "jpeg", d.width, d.height, grayMean(d.planes(0).data),
        grayMean(d.planes(1).data), grayMean(d.planes(2).data)))
    }.toDF("media_id", "decoder", "width", "height",
      "y_mean", "cb_mean", "cr_mean")
  }

  /** Fully-oracled sampled-frame relation over [[realMediaTable]]'s
    * video rows: every `stride`-th frame of each AVI is decoded
    * through the real container walk + DIB parse, and its byte length
    * and pixel mean are emitted — both recomputable by the oracle from
    * the md5 derivation. The per-frame mean (not the raw bytes)
    * crosses the engine boundary, keeping the comparison scalar.
    */
  def frameFeatures(s: SparkSession, dir: String, stride: Int = 2): DataFrame = {
    import s.implicits._
    realMediaTable(s, dir)
      .filter(_.media_type == "video")
      .flatMap { m =>
        PerceptualHash.aviFrameGrays(m.payload).toSeq.flatMap {
          case (w, h, grays) =>
            // frame bytes as stored in the container: padded BGR rows
            val dibLen = ((w * 3 + 3) / 4) * 4 * h
            (0 until grays.length by stride).map { f =>
              (m.media_id, f, dibLen, grayMean(grays(f)))
            }
        }
      }
      .toDF("media_id", "frame_idx", "frame_bytes", "frame_mean")
  }

  /** Fully-oracled RLE8 feature relation: each document becomes a
    * 2-frame Microsoft-RLE8 AVI ([[PerceptualHash.encodeRle8Avi]]) —
    * frame 0 is the 9×8 md5-token grid (mostly literal pixels →
    * absolute-mode coding), frame 1 is constant (run-mode coding) —
    * written with an INVERTED color table (index i → gray 255−i), so
    * the palette lookup is load-bearing: a decoder that ignored the
    * `strf` color table would return the raw indices and every mean
    * would be wrong. The engine decodes through the real chain
    * (RIFF walk → `strf` parse → RLE8 expand → palette) and emits the
    * per-frame pixel mean; the oracle recomputes 255−byte means from
    * the same md5 derivation ([[realMediaTable]]'s technique). Shape
    * at scale: row-local encode+decode inside one documents scan — no
    * shuffle, no driver state.
    */
  def rleFrameFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val inverted = Array.tabulate(256)(i => (255 - i).toByte)
    mdRows(s.read.parquet(s"$dir/documents.parquet")) { (id, tok) =>
      val grid = Array.tabulate(9 * 8)(i => tok(i).toByte)
      val flat = Array.fill(9 * 8)(tok(0).toByte)
      val avi = PerceptualHash.encodeRle8Avi(Seq(grid, flat), 9, 8,
        inverted)
      val (w, h, grays) = PerceptualHash.aviFrameGrays(avi)
        .getOrElse(throw new IllegalStateException(
          s"rle8 fixture failed to decode for doc $id"))
      grays.zipWithIndex.map { case (g, fi) =>
        (id, fi, "rle8", w, h, grayMean(g))
      }
    }.toDF("media_id", "frame_idx", "codec", "width", "height",
      "frame_mean")
  }

  /** Fully-oracled RLE4 feature relation — [[rleFrameFeatures]]' 4bpp
    * sibling, closing the classic Microsoft RLE family: indices are
    * the LOW NIBBLE of each md5 token byte, the 16-entry palette is
    * inverted-and-stretched (index i → gray 255−17i, so the lookup is
    * again load-bearing), frame 0's literal-heavy grid exercises
    * absolute mode with nibble packing and the odd-width (9) rows pin
    * the trailing-nibble + word-alignment path, frame 1's constant
    * surface exercises solid runs (both nibbles equal). The oracle
    * recomputes 255−17·(low nibble) means from the same md5
    * derivation. Shape at scale: row-local encode+decode inside one
    * documents scan — no shuffle, no driver state.
    */
  def rle4FrameFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val inverted = Array.tabulate(16)(i => (255 - 17 * i).toByte)
    mdRows(s.read.parquet(s"$dir/documents.parquet")) { (id, tok) =>
      def nib(i: Int): Byte = (tok(i) & 0x0f).toByte
      val grid = Array.tabulate(9 * 8)(nib)
      val flat = Array.fill(9 * 8)(nib(0))
      val avi = PerceptualHash.encodeRle4Avi(Seq(grid, flat), 9, 8,
        inverted)
      val (w, h, grays) = PerceptualHash.aviFrameGrays(avi)
        .getOrElse(throw new IllegalStateException(
          s"rle4 fixture failed to decode for doc $id"))
      grays.zipWithIndex.map { case (g, fi) =>
        (id, fi, "rle4", w, h, grayMean(g))
      }
    }.toDF("media_id", "frame_idx", "codec", "width", "height",
      "frame_mean")
  }

  /** Fully-oracled MS Video 1 (CRAM) feature relation: each document
    * becomes a 2-frame 8×8 CRAM AVI exercising every block mode —
    * 2-color, solid, 8-color in frame 0; frame 1 keeps two blocks
    * unchanged so the encoder emits SKIP codes and the decoder must
    * thread the previous frame through (the inter-frame path). Block
    * content derives from md5 token bytes; the oracle recomputes the
    * frame means arithmetically (popcounts of the mask words against
    * the color bytes), so hash equality pins the whole
    * encode→container→decode chain incl. temporal prediction.
    */
  def cramFrameFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (w, h) = (8, 8)
    def paint2(f: Array[Byte], bi: Int, mask: Int, a: Int, b: Int): Unit =
      (0 until 16).foreach { k =>
        f(Cram.pixelOffset(bi, k / 4, k % 4, w, h)) =
          (if (((mask >> k) & 1) == 1) a else b).toByte
      }
    def paintSolid(f: Array[Byte], bi: Int, v: Int): Unit =
      (0 until 16).foreach(k =>
        f(Cram.pixelOffset(bi, k / 4, k % 4, w, h)) = v.toByte)
    def paint8(f: Array[Byte], bi: Int, mask: Int,
        colors: Array[Int]): Unit =
      (0 until 16).foreach { k =>
        val r = k / 4; val c = k % 4
        val q = (if (r >= 2) 2 else 0) + (if (c >= 2) 1 else 0)
        f(Cram.pixelOffset(bi, r, c, w, h)) =
          (if (((mask >> k) & 1) == 1) colors(2 * q)
           else colors(2 * q + 1)).toByte
      }
    mdRows(s.read.parquet(s"$dir/documents.parquet")) { (id, tok) =>
      val m = Array.tabulate(16)(tok)
      val f0 = new Array[Byte](w * h)
      paint2(f0, 0, m(2) * 256 + m(3), m(0), m(1))
      paintSolid(f0, 1, m(4))
      paint8(f0, 2, m(13) * 256 + m(14),
        Array(m(5), m(9), m(6), m(10), m(7), m(11), m(8), m(12)))
      paint2(f0, 3, m(6) * 256 + m(7), m(15), m(2))
      val f1 = f0.clone() // blocks 0,1 unchanged -> skip codes
      paintSolid(f1, 2, m(5))
      paint2(f1, 3, m(10) * 256 + m(11), m(8), m(9))
      val avi = PerceptualHash.encodeCramAvi(Seq(f0, f1), w, h)
      val (dw, dh, grays) = PerceptualHash.aviFrameGrays(avi)
        .getOrElse(throw new IllegalStateException(
          s"cram fixture failed to decode for doc $id"))
      grays.zipWithIndex.map { case (g, fi) =>
        (id, fi, "cram", dw, dh, grayMean(g))
      }
    }.toDF("media_id", "frame_idx", "codec", "width", "height",
      "frame_mean")
  }

  /** Fully-oracled arithmetic-JPEG (SOF9) feature relation: each
    * document becomes a block-constant grayscale JPEG whose entropy
    * data is QM-arithmetic coded ([[JpegArith.encodeGrayBlocks]] —
    * 4×2 blocks of the md5-token bytes, flat quant, so decode is
    * lossless by construction); even doc_ids additionally carry
    * restart markers every 3 MCUs, exercising the coder/statistics
    * reset path on half the corpus with an identical decoded result.
    * The engine decodes through the real chain (SOF9/DAC parse → QM
    * decoder → Annex F model → IDCT) and emits the pixel mean; the
    * oracle recomputes it from the generative md5 derivation. Shape
    * at scale: row-local encode+decode inside one documents scan — no
    * shuffle, no driver state.
    */
  def arithJpegFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mdRows(s.read.parquet(s"$dir/documents.parquet")) { (id, tok) =>
      val grid = Array.tabulate[Byte](8)(i => tok(i).toByte)
      val jpg = JpegArith.encodeGrayBlocks(grid, 4, 2,
        restartInterval = if (id % 2 == 0) 3 else 0)
      val d = Codecs.decode(jpg).getOrElse(throw new IllegalStateException(
        s"arithmetic jpeg fixture failed to decode for doc $id"))
      Some((id, d.kind, d.width, d.height, grayMean(d.gray)))
    }.toDF("media_id", "decoder", "width", "height", "gray_mean")
  }

  /** Fully-oracled PROGRESSIVE-JPEG feature relation: each document
    * becomes a three-scan SOF2 stream
    * ([[PerceptualHash.encodeProgressiveBlocks]] — DC first at Al=1,
    * DC refinement carrying the live low bit, then the all-zero AC
    * band as EOBn runs), decoded through the real multi-scan walk to
    * FULL resolution. The successive-approximation reconstruction is
    * load-bearing: dropping the refinement scan would shift half the
    * corpus's means. Same md5-grid derivation and scale shape as the
    * other codec queries (row-local, zero exchanges).
    */
  def progressiveJpegFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mdRows(s.read.parquet(s"$dir/documents.parquet")) { (id, tok) =>
      val grid = Array.tabulate[Byte](8)(i => tok(i).toByte)
      val jpg = PerceptualHash.encodeProgressiveBlocks(grid, 4, 2)
      val d = Codecs.decode(jpg).getOrElse(throw new IllegalStateException(
        s"progressive fixture failed to decode for doc $id"))
      Some((id, d.kind, d.width, d.height, grayMean(d.gray)))
    }.toDF("media_id", "decoder", "width", "height", "gray_mean")
  }

  /** Fully-oracled SOF10 (progressive ARITHMETIC) feature relation —
    * the fourth and final cell of the entropy × scan-structure
    * matrix (sequential/progressive × Huffman/QM): five scans per
    * document (DC first at Al=1, split-band AC first, DC and AC
    * refinements), all QM-coded ([[JpegArith.encodeGrayProgressive]]);
    * odd doc_ids add restart markers every 3 blocks in every scan.
    * Decode runs the real multi-scan walk with the Annex G arithmetic
    * models; means recompute from the md5 derivation as everywhere.
    */
  def sof10Features(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mdRows(s.read.parquet(s"$dir/documents.parquet")) { (id, tok) =>
      val blocks = (0 until 8).map { i =>
        val c = new Array[Int](64)
        c(0) = 8 * (tok(i) - 128)
        c
      }
      val jpg = JpegArith.encodeGrayProgressive(blocks, 4, 2,
        restartInterval = if (id % 2 == 1) 3 else 0)
      val d = Codecs.decode(jpg).getOrElse(throw new IllegalStateException(
        s"sof10 fixture failed to decode for doc $id"))
      Some((id, d.kind, d.width, d.height, grayMean(d.gray)))
    }.toDF("media_id", "decoder", "width", "height", "gray_mean")
  }

  /** Payload metadata relation (fully oracle-able): id, declared type,
    * byte length, md5 of the payload.
    */
  def payloadMeta(s: SparkSession, dir: String): DataFrame =
    mediaTable(s, dir).toDF()
      .select(col("media_id"), col("media_type"),
        length(col("payload")).as("n_bytes"),
        md5(col("payload")).as("payload_md5"))

  /** Frame sampling for "video" rows: explode sampled frames with
    * their index — the flatMap (UDTF-shaped) variant of the batch
    * transform.
    */
  def sampledFrames(s: SparkSession, dir: String, stride: Int = 4): DataFrame =
    sampledFramesDs(mediaTable(s, dir), stride)

  /** Dataset-level variant (spec corpora with real AVI payloads). */
  private[graft] def sampledFramesDs(
      media: Dataset[MediaRecord], stride: Int = 4): DataFrame = {
    import media.sparkSession.implicits._
    media
      .filter(_.media_type == "video")
      .flatMap { m =>
        // REAL frame walk for uncompressed AVI (RIFF movi '##db'
        // chunks, JDK-parseable); stub slicing for everything else
        val frames = Codecs.aviFrames(m.payload)
          .map(all => (0 until all.length by stride).map(all(_)))
          .getOrElse {
            val frameBytes = math.max(m.width, 1)
            FakeCodec.sampleFrames(m.payload, frameBytes, stride)
          }
        frames.zipWithIndex.map { case (frame, idx) =>
          (m.media_id, idx, frame.length, frame)
        }
      }
      .toDF("media_id", "frame_idx", "frame_bytes", "frame")
  }

  /** Builds a minimal mono RIFF/WAVE container around `fmt` extra
    * fields + data payload: the fixture-side writer for the
    * compressed-audio queries (the engine re-parses it through
    * [[Codecs.wavInfo]], so the container round-trip is earned, not
    * assumed). */
  private def monoWav(tag: Int, bits: Int, blockAlign: Int,
      extra: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val fmtLen = 16 + (if (extra.isEmpty) 0 else 2 + extra.length)
    val riffLen = 4 + (8 + fmtLen) + (8 + data.length)
    val out = java.nio.ByteBuffer
      .allocate(8 + riffLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes).putInt(riffLen).put("WAVE".getBytes)
    out.put("fmt ".getBytes).putInt(fmtLen)
    out.putShort(tag.toShort).putShort(1.toShort) // channels = 1
    out.putInt(8000).putInt(8000 * blockAlign)
    out.putShort(blockAlign.toShort).putShort(bits.toShort)
    if (extra.nonEmpty) {
      out.putShort(extra.length.toShort); out.put(extra)
    }
    out.put("data".getBytes).putInt(data.length).put(data)
    out.array()
  }

  /** One-block mono IMA ADPCM fixture (header state + 64 nibble codes
    * from 35 md5-derived bytes), decoded back through the real RIFF →
    * ADPCM chain: the shared derivation both audio queries and their
    * oracles replay. */
  private def adpcmFixtureSamples(id: Long, m: Array[Int]): Array[Short] = {
    val block = new Array[Byte](36)
    block(0) = m(0).toByte // predictor LE int16
    block(1) = m(1).toByte
    block(2) = (m(2) % 89).toByte
    block(3) = 0
    var i = 0
    while (i < 32) { block(4 + i) = m(3 + i).toByte; i += 1 }
    val wav = monoWav(0x11, 4, 36, Array(65, 0).map(_.toByte), block)
    Codecs.wavSamples16(wav).getOrElse(
      throw new IllegalStateException(
        s"adpcm fixture failed to decode for doc $id"))
  }

  /** Fully-oracled IMA ADPCM feature relation: each document becomes
    * a one-block mono ADPCM WAV (fmt tag 0x11) whose header state and
    * 64 nibble codes derive from md5 token bytes; the engine decodes
    * through the real chain (RIFF parse → [[Adpcm.decodeMonoBlock]]
    * state thread) and emits exact integer features of the 65 decoded
    * samples, which the oracle recomputes by replaying the IMA step
    * recurrence in a recursive CTE — hash equality pins every
    * predictor/step-index transition. Shape at scale: row-local
    * encode+decode inside one `documents` scan, zero exchanges before
    * the final serialize.
    */
  def adpcmFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mdRows(s.read.parquet(s"$dir/documents.parquet")) { (id, tok) =>
      val samples = adpcmFixtureSamples(id, Array.tabulate(35)(tok))
      val (sum, mn, mx) = sampleStats(samples.length)(samples(_))
      Some((id, "ima_adpcm", samples.length, sum, mn, mx))
    }.toDF("media_id", "codec", "n_samples", "sum_samples",
      "min_sample", "max_sample")
  }

  /** Fully-oracled MS ADPCM (WAVE tag 2) feature relation: each
    * document becomes a one-block mono stream — predictor index,
    * initial delta, and two seed samples from md5 bytes, then 48
    * HIGH-nibble-first codes — with the standard seven-pair
    * coefficient table carried in the real `fmt ` extension the
    * decoder parses. The oracle replays the two-tap
    * predictor/adaptive-delta recurrence in a recursive CTE
    * (truncating division on both sides), pinning the second
    * ADPCM family's every transition.
    */
  def msAdpcmFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // fmt extension: wSamplesPerBlock=50, wNumCoef=7, the pairs
    val extra = {
      val bb = java.nio.ByteBuffer.allocate(4 + 28)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putShort(50).putShort(7)
      Adpcm.MsCoefPairs.foreach { case (c1, c2) =>
        bb.putShort(c1.toShort).putShort(c2.toShort)
      }
      bb.array()
    }
    mdRows(s.read.parquet(s"$dir/documents.parquet")) { (id, tok) =>
      val m = Array.tabulate(30)(tok)
      val block = new Array[Byte](31)
      block(0) = (m(0) % 7).toByte
      val delta0 = 16 + m(1) * 4
      block(1) = (delta0 & 0xff).toByte
      block(2) = (delta0 >> 8).toByte
      block(3) = m(2).toByte; block(4) = m(3).toByte // samp1 LE
      block(5) = m(4).toByte; block(6) = m(5).toByte // samp2 LE
      var i = 0
      while (i < 24) { block(7 + i) = m(6 + i).toByte; i += 1 }
      val wav = monoWav(2, 4, 31, extra, block)
      val samples = Codecs.wavSamples16(wav).getOrElse(
        throw new IllegalStateException(
          s"ms-adpcm fixture failed to decode for doc $id"))
      val (sum, mn, mx) = sampleStats(samples.length)(samples(_))
      Some((id, "ms_adpcm", samples.length, sum, mn, mx))
    }.toDF("media_id", "codec", "n_samples", "sum_samples",
      "min_sample", "max_sample")
  }

  /** Fully-oracled palette + Adam7 PNG feature relation: each
    * document becomes a 16×16 color-type-3 PNG (md5-derived palette
    * indices over a 16-entry grayscale palette, r=g=b so BT.601
    * collapse is the identity) — INTERLACED for even doc_ids,
    * sequential for odd, with identical pixel content, so the oracle
    * is one expression for both and hash equality pins that Adam7
    * pass reassembly is invisible to content. Decode runs the real
    * chain: chunk walk → PLTE → inflate → per-pass unfilter →
    * scatter → palette lookup.
    */
  def pngFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val palette = Array.tabulate(48) { i =>
      ((i / 3) * 17).toByte // entry k: r=g=b = 17k
    }
    mdRows(s.read.parquet(s"$dir/documents.parquet")) { (id, tok) =>
      val m = Array.tabulate(32)(tok)
      val idx = Array.tabulate(256)(p => (m(p % 32) % 16).toByte)
      val png = PerceptualHash.encodePng(idx, 16, 16, palette,
        interlaced = id % 2 == 0)
      val d = Codecs.decode(png).getOrElse(
        throw new IllegalStateException(
          s"png fixture failed to decode for doc $id"))
      Some((id, "png", d.width, d.height, graySum(d.gray)))
    }.toDF("media_id", "codec", "width", "height", "sum_gray")
  }

  /** Fully-oracled FLAC-subset feature relation — the first
    * ENTROPY-CODED audio path: each document's 64 closed-form samples
    * ride a real two-frame stream (sync codes, UTF-8 frame numbers,
    * CRC-8/CRC-16) whose subframe type cycles with doc parity —
    * constant, verbatim, fixed order 1, fixed order 2 — through Rice
    * residual coding. Compression is lossless, so the oracle
    * recomputes the features straight from the sample derivation; the
    * engine must reach the identical integers through bit-level Rice
    * decode + predictor reconstruction + CRC verification.
    */
  def flacFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val modes = Array("constant", "verbatim", "fixed1", "fixed2")
    mdRows(s.read.parquet(s"$dir/documents.parquet")) { (id, tok) =>
      val m = Array.tabulate(32)(tok)
      val v = (id % 4).toInt
      val samples =
        if (v == 0) Array.fill(64)(m(0) - 128)
        else Array.tabulate(64)(i => m(i % 32) - 128)
      val enc = Flac.encode(samples, blockSize = 32,
        mode = Array(0, 1, 3, 4)(v))
      val dec = Flac.decode(enc).getOrElse(
        throw new IllegalStateException(
          s"flac fixture failed to decode for doc $id"))
      val (sum, mn, mx) = sampleStats(dec.length)(dec(_))
      Some((id, "flac", modes(v), dec.length, sum, mn, mx))
    }.toDF("media_id", "codec", "mode", "n_samples", "sum_samples",
      "min_sample", "max_sample")
  }

  /** Fully-oracled TIFF feature relation — the codec family's BYTE
    * ORDER axis: each document becomes a 16×16 grayscale baseline
    * TIFF, big-endian (`MM`) + PackBits for even doc_ids and
    * little-endian (`II`) + uncompressed + WhiteIsZero (samples
    * stored complemented) for odd. Even rows carry per-column md5
    * bytes (literal packets), odd rows are constant (fill packets),
    * so both PackBits packet kinds are live in every even stream.
    * One decoder path serves all four variants; the single oracle
    * expression pins that endianness, compression, and photometric
    * inversion are invisible to content — a decoder hardwiring any
    * of the three fails half the corpus.
    */
  def tiffFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mdRows(s.read.parquet(s"$dir/documents.parquet")) { (id, tok) =>
      val m = Array.tabulate(16)(tok)
      val gray = Array.tabulate(256) { p =>
        val r = p / 16; val c = p % 16
        (if (r % 2 == 0) m(c) else m(r)).toByte
      }
      val even = id % 2 == 0
      val bytes = PerceptualHash.encodeTiff(gray, 16, 16,
        bigEndian = even, packBits = even, whiteIsZero = !even)
      val d = Codecs.decode(bytes).getOrElse(
        throw new IllegalStateException(
          s"tiff fixture failed to decode for doc $id"))
      Some((id, "tiff", if (even) "MM" else "II",
        if (even) "packbits" else "none", d.width, d.height, graySum(d.gray)))
    }.toDF("media_id", "codec", "byte_order", "compression",
      "width", "height", "sum_gray")
  }

  /** Fully-oracled ANIMATED-GIF feature relation: each document
    * becomes a two-frame GIF89a — frame 0 paints the full 8×8 canvas
    * from md5 palette indices; frame 1 is a 4×4 SUB-RECTANGLE at
    * (2,2) whose pixels matching the transparent index show the
    * previous frame through (GIF's inter-frame prediction), under
    * disposal 1. The engine composites through the real chain (GCE
    * parse → literal-LZW decode → transparency-keyed draw); the
    * oracle recomputes both frame sums closed-form from the same md5
    * bytes, so hash equality pins the compositing arithmetic
    * including exactly which pixels the transparency key skipped.
    */
  def gifFrameFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val palette = Array.tabulate(48)(i => ((i / 3) * 17).toByte)
    mdRows(s.read.parquet(s"$dir/documents.parquet")) { (id, tok) =>
      val m = Array.tabulate(32)(tok)
      val t = m(1) % 16
      val f0 = PerceptualHash.GifFrame(0, 0, 8, 8,
        Array.tabulate(64)(p => (m(p % 32) % 16).toByte),
        disposal = 1)
      val f1 = PerceptualHash.GifFrame(2, 2, 4, 4,
        Array.tabulate(16)(q => (m(q) % 16).toByte),
        disposal = 1, transparent = t)
      val gif = PerceptualHash.encodeGifAnim(8, 8, palette,
        Seq(f0, f1))
      val frames = Codecs.gifFrames(gif).getOrElse(
        throw new IllegalStateException(
          s"gif fixture failed to decode for doc $id"))
      frames.zipWithIndex.map { case (d, fi) =>
        (id, fi, "gif", d.width, d.height, graySum(d.gray))
      }
    }.toDF("media_id", "frame_idx", "codec", "width", "height",
      "sum_gray")
  }

  /** Fully-oracled audio ANALYSIS relation — the signal-level sibling
    * of the text-quality scores: zero-crossing rate, energy, and
    * autocorrelation at lags 1 and 4 over the 65 samples each
    * document's ADPCM fixture decodes to. All integer arithmetic on
    * int16 samples (products accumulate in Long), so the oracle
    * recomputes every feature from the sample list its recursive CTE
    * rebuilds. Same zero-exchange row-local plan as the codec
    * queries.
    */
  def audioAnalysis(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mdRows(s.read.parquet(s"$dir/documents.parquet")) { (id, tok) =>
      val v = adpcmFixtureSamples(id, Array.tabulate(35)(tok))
      var zcr = 0
      var energy = 0L
      var ac1 = 0L
      var ac4 = 0L
      var i = 0
      while (i < v.length) {
        val x = v(i).toLong
        energy += x * x
        if (i >= 1 && ((v(i) < 0) != (v(i - 1) < 0))) zcr += 1
        if (i + 1 < v.length) ac1 += x * v(i + 1)
        if (i + 4 < v.length) ac4 += x * v(i + 4)
        i += 1
      }
      Some((id, v.length, zcr, energy, ac1, ac4))
    }.toDF("media_id", "n_samples", "zcr", "energy", "ac1", "ac4")
  }

  /** Fully-oracled G.711 feature relation: the same 32 md5 token
    * bytes per document decode once as µ-law and once as A-law (two
    * mono WAVs, tags 7 and 6) through the real container+expansion
    * path; both segment decodes are closed-form integer arithmetic,
    * so the oracle recomputes them per byte. Two rows per document.
    */
  def g711Features(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mdRows(s.read.parquet(s"$dir/documents.parquet")) { (id, tok) =>
      val data = Array.tabulate(32)(i => tok(i).toByte)
      Seq(7 -> "ulaw", 6 -> "alaw").map { case (tag, name) =>
        val wav = monoWav(tag, 8, 1, Array.emptyByteArray, data)
        val samples = Codecs.wavSamples16(wav).getOrElse(
          throw new IllegalStateException(
            s"g711 fixture failed to decode for doc $id"))
        val (sum, mn, mx) = sampleStats(samples.length)(samples(_))
        (id, name, samples.length, sum, mn, mx)
      }
    }.toDF("media_id", "codec", "n_samples", "sum_samples",
      "min_sample", "max_sample")
  }
}
