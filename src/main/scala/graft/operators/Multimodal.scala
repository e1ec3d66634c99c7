package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (SURVEY §2 C12): media as opaque `binary` columns
  * with typed metadata, processed batch-wise per partition.
  *
  * The real decode/resize/frame-sample step needs native codec libraries that
  * are NOT in this container, so the codec is a seam: `MediaCodec` is the
  * pluggable interface, `StubCodec` is a deterministic fake that exercises the
  * full Spark-side pipeline — schema, encoders, per-partition batching,
  * partition sizing — exactly as a real codec would. The swap claim is
  * proven, not argued: `ImageIoCodec` is a real pure-JVM PNG decoder and
  * `WavCodec` a real pure-JVM PCM-WAV audio decoder behind the same seam
  * (both spec-exercised end-to-end on planted payloads); a JNI/FFM
  * libjpeg/ffmpeg implementation slots in the same way.
  *
  * Scale notes: media rows are wide, so the pipeline repartitions by a
  * size-aware key before the codec pass (here: hash of id — in production,
  * bin-packed by byte size) and the codec is applied via `mapPartitions`, so
  * per-partition setup (codec init, GPU context, ...) is paid once per task,
  * not once per row — the Scala analog of a Pandas-UDF `mapInPandas` batch.
  */
object Multimodal {

  /** A media row: opaque payload + typed metadata, the schema a 100 TB
    * image/audio corpus would carry. */
  case class MediaRow(media_id: Long, media: Array[Byte], format: String,
    declared_width: Int, declared_height: Int)

  /** Decoded features produced by the codec stage. */
  case class MediaFeatures(media_id: Long, byte_len: Int, format: String,
    width: Int, height: Int, n_frames: Int, feature_norm: Double)

  /** The codec seam. A production implementation would wrap e.g. libjpeg /
    * ffmpeg via JNI; it must be pure (same bytes → same features). */
  trait MediaCodec extends Serializable {
    def decode(row: MediaRow): MediaFeatures
  }

  /** Deterministic fake codec: derives "decoded" properties from the payload
    * bytes only. Replaces `???` so the pipeline is runnable end-to-end; the
    * real-codec integration point is this one method. The fake properties
    * derive from the first 4 bytes of the payload's md5 (not CRC32) so the
    * whole pipeline is portable SQL — the DuckDB oracle below reproduces every
    * feature bit-exactly, turning C12 from a rows-only check into a full
    * value-level gate. */
  object StubCodec extends MediaCodec {
    def decode(row: MediaRow): MediaFeatures = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(row.media)
      // first 8 hex chars of md5, as an unsigned 32-bit value in a long
      val h = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
        ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
      MediaFeatures(
        media_id = row.media_id,
        byte_len = row.media.length,
        format = row.format,
        width = (h % 640).toInt + 1,
        height = ((h >> 16) % 480).toInt + 1,
        n_frames = if (row.format == "video") (row.media.length % 30) + 1 else 1,
        feature_norm = (h % 100000) / 100000.0)
    }
  }

  /** A REAL pure-JVM codec behind the same seam: javax.imageio decodes PNG
    * (and JPEG/GIF/BMP) without any native library, so the seam is exercised
    * by an actual decoder end-to-end — OperatorsSpec plants PNGs of known
    * dimensions and decodes them through the full mapPartitions pipeline.
    * Same contract a production codec must honor: pure (same bytes → same
    * features) and tolerant — a payload ImageIO cannot parse degrades to a
    * marked zero-dimension row instead of failing the whole task (at 100 TB
    * some fraction of a crawl's media bytes is always corrupt). */
  object ImageIoCodec extends MediaCodec {
    // ImageIO defaults to a DISK-backed stream cache — a temp file created
    // and deleted per decode, which serializes every task on filesystem
    // metadata ops (measured ~10x on the C12c lane). In-memory payloads
    // never need it. Object init runs once per executor JVM at first use.
    javax.imageio.ImageIO.setUseCache(false)
    def decode(row: MediaRow): MediaFeatures = {
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(row.media))
        catch { case _: java.io.IOException => null }
      if (img == null)
        MediaFeatures(row.media_id, row.media.length, row.format, 0, 0, 0, 0.0)
      else {
        val (w, h) = (img.getWidth, img.getHeight)
        // deterministic feature: mean Rec.601 luma over all pixels, in [0,1]
        var sum = 0.0
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            sum += (((rgb >> 16) & 0xFF) * 299L + ((rgb >> 8) & 0xFF) * 587L +
              (rgb & 0xFF) * 114L) / 1000.0
            x += 1
          }
          y += 1
        }
        MediaFeatures(row.media_id, row.media.length, row.format, w, h, 1,
          sum / (w.toLong * h) / 255.0)
      }
    }
  }

  /** A REAL pure-JVM AUDIO codec behind the same seam: javax.sound.sampled
    * parses WAV/AIFF/AU containers without native libraries — the audio leg
    * of the image/audio/video mandate, exercised end-to-end by a spec that
    * synthesizes PCM WAV bytes of known content. Field mapping onto the
    * seam's feature schema (documented, since audio axes differ from image
    * axes): `width` := sample rate (the resolution axis), `height` :=
    * channel count, `n_frames` := PCM frame count (the time axis, exactly
    * like video), `feature_norm` := RMS amplitude normalized to [0,1] (the
    * loudness feature a filtering pipeline thresholds on). Same contract as
    * every codec here: pure, and unparseable payloads degrade to a marked
    * zero row instead of failing the task. Only 16-bit PCM is computed —
    * other encodings would need a JNI decoder and degrade likewise. */
  object WavCodec extends MediaCodec {
    def decode(row: MediaRow): MediaFeatures = {
      val zero = MediaFeatures(row.media_id, row.media.length, row.format, 0, 0, 0, 0.0)
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(row.media))
        try {
          val fmt = in.getFormat
          val pcm16 =
            fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
              fmt.getSampleSizeInBits == 16
          if (!pcm16) zero
          else {
            val bytes = org.apache.commons.io.IOUtils.toByteArray(in)
            var sumSq = 0.0
            var i = 0
            while (i + 1 < bytes.length) {
              val s =
                if (fmt.isBigEndian) ((bytes(i) << 8) | (bytes(i + 1) & 0xFF)).toShort
                else ((bytes(i + 1) << 8) | (bytes(i) & 0xFF)).toShort
              val x = s / 32768.0
              sumSq += x * x
              i += 2
            }
            val nSamples = bytes.length / 2
            val nFrames = nSamples / math.max(1, fmt.getChannels)
            MediaFeatures(row.media_id, row.media.length, row.format,
              fmt.getSampleRate.toInt, fmt.getChannels, nFrames,
              if (nSamples == 0) 0.0 else math.sqrt(sumSq / nSamples))
          }
        } finally in.close()
      } catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException => zero
        case _: java.io.IOException => zero
      }
    }
  }

  /** Fabricate a media table from `documents` (text bytes stand in for encoded
    * payloads — deterministic, schema-faithful). `sorted = true` establishes
    * the entry points' media_id output order HERE, on the raw scan, so the
    * range-exchange sampling job never re-runs the codec pass downstream
    * (Tables.loadSorted documents the double-eval). */
  def mediaTable(spark: SparkSession, sfDir: String,
    sorted: Boolean = false): Dataset[MediaRow] = {
    import spark.implicits._
    val base = graft.Tables.load(spark, sfDir, "documents")
    (if (sorted) base.orderBy(col("doc_id")) else base)
      .select(col("doc_id").as("media_id"),
        col("text").cast("binary").as("media"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("format"),
        lit(0).as("declared_width"), lit(0).as("declared_height"))
      .as[MediaRow]
  }

  /** The decode/feature pipeline: global media_id sort BEFORE the
    * per-partition codec pass (the 1:1 decode map preserves row order, and
    * sorting first keeps the codec out of the range exchange's sampling job
    * — Tables.loadSorted documents the double-eval; the sort also spreads
    * rows across partitions, which the old hash repartition existed for).
    * `presorted = true` skips the sort for inputs whose source already
    * established the order. The codec is the only variable — C12 runs it
    * with StubCodec (portable oracle), the spec with ImageIoCodec. */
  private[graft] def decodePipeline(spark: SparkSession, rows: Dataset[MediaRow],
    codec: MediaCodec, presorted: Boolean = false): DataFrame = {
    import spark.implicits._
    (if (presorted) rows else rows.orderBy(col("media_id")))
      .mapPartitions { it => it.map(codec.decode) }
      .toDF()
  }

  /** C12 — the pipeline over the fabricated media table with the stub codec
    * (the container ships no native media libs; the DuckDB oracle reproduces
    * the stub bit-exactly, so C12 stays a value-level gate). */
  def mmPipeline(spark: SparkSession, sfDir: String): DataFrame =
    decodePipeline(spark, mediaTable(spark, sfDir, sorted = true), StubCodec,
      presorted = true)

  /** One sampled frame's features. frame_idx is a position in the decoded
    * stream, 0-based; n_frames rides along so downstream can reason about
    * coverage (sampled = ceil(n_frames / stride)). */
  case class FrameFeatures(media_id: Long, frame_idx: Long, n_frames: Int,
    frame_feature: Double)

  /** The frame-sampling seam: decode only every `stride`-th frame of a video
    * payload. A production implementation seeks — it decodes I-frames near
    * the sample points, never the full stream (ffmpeg `-skip_frame` /
    * `av_seek_frame`); that contract (output depends only on bytes + stride)
    * is what the stub honors. */
  trait FrameSampler extends Serializable {
    def sample(row: MediaRow, stride: Int): Iterator[FrameFeatures]
  }

  /** Deterministic fake sampler: frame count from the stub codec's rule,
    * per-frame feature from md5(payload ++ "#idx") — every emitted value is
    * reproducible in portable SQL, so the fan-out plumbing gets a full
    * value-level oracle like C12's. */
  object StubFrameSampler extends FrameSampler {
    def sample(row: MediaRow, stride: Int): Iterator[FrameFeatures] = {
      val n = (row.media.length % 30) + 1
      (0 until n by stride).iterator.map { i =>
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(row.media ++ s"#$i".getBytes("UTF-8"))
        val h = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
          ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
        FrameFeatures(row.media_id, i.toLong, n, (h % 100000) / 100000.0)
      }
    }
  }

  /** C12b — frame sampling: video rows fan out to one row per sampled frame
    * (stride 5) through the same per-partition batching as the decode
    * pipeline. The fan-out is BOUNDED (ceil(n/stride) rows per video, never
    * the full frame count), which is the property that keeps a 100 TB video
    * corpus's feature table proportional to sampled — not decoded — frames;
    * the format filter prunes audio/image rows before the codec pass. */
  def mmFrameSample(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // sorted at source; the sampler emits frame_idx ascending per row, so
    // the flatMap preserves the (media_id, frame_idx) output order with no
    // post-fan-out sort (and no codec pass inside a sampling job)
    mediaTable(spark, sfDir, sorted = true)
      .filter(col("format") === "video")
      .mapPartitions { it => it.flatMap(StubFrameSampler.sample(_, 5)) }
      .toDF()
  }

  /** Synthetic REAL-container payloads (SURVEY §2 C12c/C12d): each doc_id
    * becomes an actual PNG / PCM-WAV byte stream built on the executor, so
    * the real codecs run in the measured bench lane — the seam's cost model
    * is a committed number, not an assumption. Content is chosen so every
    * decoded feature is EXACT integer-derived arithmetic (solid-gray pixels,
    * constant-amplitude samples), which makes the real decode path fully
    * DuckDB-oracle-checkable: mean Rec.601 luma of gray c is exactly c (299 +
    * 587 + 114 = 1000), and the RMS of a constant signal A is exactly
    * |A|/32768 — both correctly-rounded identically in both engines. */
  private def pngBytes(id: Long): Array[Byte] = {
    // ImageIoCodec's object init already disabled the JVM-global disk cache
    // (temp-file-per-stream); touching it here would mutate process-global
    // state once per encoded row for nothing
    ImageIoCodec
    val w = (id % 13).toInt + 4
    val h = (id % 7).toInt + 4
    val c = (id % 256).toInt
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (c << 16) | (c << 8) | c
    var y = 0
    while (y < h) { var x = 0; while (x < w) { img.setRGB(x, y, rgb); x += 1 }; y += 1 }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Hand-rolled RIFF/WAVE container (44-byte header + 16-bit LE PCM): the
    * layout javax.sound.sampled parses, with no dependence on an encoder's
    * chunk choices — same bytes on every JVM. Mono, 8 kHz, constant
    * amplitude (id % 30001) - 15000 over (id % 50) + 10 frames. */
  private def wavBytes(id: Long): Array[Byte] = {
    val nFrames = (id % 50).toInt + 10
    val amp = ((id % 30001) - 15000).toInt
    val sr = 8000
    val dataLen = nFrames * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(sr).putInt(sr * 2).putShort(2).putShort(16)
    bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < nFrames) { bb.putShort(amp.toShort); i += 1 }
    bb.array()
  }

  /** One media row per document, payload built by `mk` ON THE EXECUTOR inside
    * the same mapPartitions seam the codec uses — the driver never holds
    * payload bytes, exactly as a 100 TB corpus requires. */
  private def syntheticMediaTable(spark: SparkSession, sfDir: String,
    format: String, mk: Long => Array[Byte],
    sorted: Boolean = false): Dataset[MediaRow] = {
    import spark.implicits._
    val ids = graft.Tables.load(spark, sfDir, "documents").select(col("doc_id"))
    // sorted = true: order on the bare id scan, so the encode (mk) AND the
    // downstream decode both run once, above the range exchange
    (if (sorted) ids.orderBy(col("doc_id")) else ids).as[Long]
      .mapPartitions(_.map(id => MediaRow(id, mk(id), format, 0, 0)))
  }

  /** C12c — REAL image decode in the bench lane: synthesized PNGs through
    * the full decodePipeline with ImageIoCodec (actual javax.imageio parse +
    * per-pixel luma pass). byte_len is dropped from the output — the PNG
    * container size is codec-internal (zlib framing), not oracle
    * arithmetic; every retained column is exact. */
  def mmDecodePng(spark: SparkSession, sfDir: String): DataFrame =
    decodePipeline(spark,
      syntheticMediaTable(spark, sfDir, "image", pngBytes, sorted = true),
      ImageIoCodec, presorted = true)
      .select(col("media_id"), col("width"), col("height"), col("n_frames"),
        col("feature_norm"))

  /** C12d — REAL audio decode in the bench lane: synthesized PCM WAVs through
    * the same pipeline with WavCodec (actual javax.sound.sampled parse + RMS
    * over every sample). */
  def mmDecodeWav(spark: SparkSession, sfDir: String): DataFrame =
    decodePipeline(spark,
      syntheticMediaTable(spark, sfDir, "audio", wavBytes, sorted = true),
      WavCodec, presorted = true)
      .select(col("media_id"), col("width"), col("height"), col("n_frames"),
        col("feature_norm"))

  // ----- C37: perceptual-hash near-dedup over media bytes -----

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString

  /** Synthesized gray-GRADIENT PNG for C37: a 9×8 grid whose pixel levels
    * are md5-derived from the document's image CLASS (`doc_id % nClasses` —
    * several docs share one image, the planted duplicates), with every third
    * doc carrying a one-pixel +16 brightening (the planted NEAR-duplicate:
    * it flips at most the two dHash comparisons that touch that pixel).
    * TYPE_INT_RGB with r=g=b keeps the PNG roundtrip bit-exact (the
    * TYPE_BYTE_GRAY color model would gamma-convert under getRGB), so the
    * decoded levels — and therefore the hash — collapse to the md5 closed
    * form the DuckDB oracle reproduces. */
  private def gradPngBytes(nClasses: Long)(id: Long): Array[Byte] = {
    ImageIoCodec // once-per-JVM ImageIO cache disable
    val key = id % nClasses
    val pert = id % 3 == 0
    val img = new java.awt.image.BufferedImage(9, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < 8) {
      val hex = md5Hex(s"$key:$y")
      var x = 0
      while (x < 9) {
        var v = Integer.parseInt(hex.substring(2 * x, 2 * x + 2), 16)
        if (pert && x == (key % 9).toInt && y == (key % 8).toInt)
          v = math.min(v + 16, 255)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** 64-bit difference hash over a decoded 9×8 image: bit y*8+x is set when
    * pixel (x,y) is darker than its right neighbor — the standard dHash
    * layout, robust to uniform brightness shifts. */
  private def dHash64(img: java.awt.image.BufferedImage): Long = {
    var h = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if ((img.getRGB(x, y) & 0xFF) < (img.getRGB(x + 1, y) & 0xFF))
          h |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    h
  }

  /** Decode + dHash in ONE row-local step — the seam the streaming media
    * tier (D12) applies inside its micro-batch, and the batch hash pass
    * (mediaHashes) applies under memoization. An unparseable payload
    * degrades to hash 0 (the codec-tolerance contract); any codec defect
    * surfaces as an oracle hash mismatch, not a crash. */
  private[graft] def dHashOfBytes(bytes: Array[Byte]): Long = {
    ImageIoCodec // once-per-JVM ImageIO cache disable
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      catch { case _: java.io.IOException => null }
    if (img == null) 0L else dHash64(img)
  }


  /** C12e — REAL image resize: the resize leg of the multimodal mandate
    * (decode / feature-extract / resize / frame-sample), run end-to-end on
    * actual decoded pixels. Each gradient PNG is decoded by javax.imageio
    * and area-average downsampled 9×8 → 3×4 (each output cell the exact
    * mean of a 3×2 pixel block — the standard antialiasing resample for
    * integer shrink factors). Zero-shuffle pure map over the mapPartitions
    * codec seam; output is 12 (doc, cell) rows per image. Every cell value
    * is an integer sum over decoded levels divided once by 6.0 — a single
    * IEEE division of exactly-representable operands, so the full thumbnail
    * is hash-checkable against the closed-form pixel oracle (any decode or
    * resample deviation moves a cell). */
  def mmResize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // sorted at source; the cell fan-out emits (ty, tx) lexicographically,
    // so output order is (doc_id, ty, tx) with no post-fan-out sort
    syntheticMediaTable(spark, sfDir, "image",
        gradPngBytes(gradClassCount(spark, sfDir)), sorted = true)
      .mapPartitions(_.flatMap { row =>
        val img =
          try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(row.media))
          catch { case _: java.io.IOException => null }
        if (img == null) Iterator.empty
        else for (ty <- (0 until 4).iterator; tx <- 0 until 3) yield {
          var s = 0
          var dy = 0
          while (dy < 2) {
            var dx = 0
            while (dx < 3) {
              s += img.getRGB(tx * 3 + dx, ty * 2 + dy) & 0xFF
              dx += 1
            }
            dy += 1
          }
          (row.media_id, tx, ty, s.toDouble / 6.0)
        }
      }).toDF("doc_id", "tx", "ty", "v")
  }

  /** Generated oracle for C12e: the same md5 pixel formula as C37, block
    * sums as exact BIGINT arithmetic, one division by 6.0 per cell. */
  def mmResizeSql: String = {
    val cells = (for (ty <- 0 until 4; tx <- 0 until 3) yield {
      val terms = (for (dy <- 0 until 2; dx <- 0 until 3)
        yield s"p_${tx * 3 + dx}_${ty * 2 + dy}").mkString(" + ")
      s"SELECT doc_id, $tx AS tx, $ty AS ty, ($terms) / 6.0 AS v FROM hx"
    }).mkString("\n UNION ALL ")
    s"""WITH ${gradPixelCtes}
       |SELECT doc_id, CAST(tx AS INT) AS tx, CAST(ty AS INT) AS ty, v FROM (
       | $cells)
       |ORDER BY doc_id, ty, tx""".stripMargin
  }

  /** C37 — media near-dedup: the dedup family's missing modality. Synthesized
    * gradient PNGs go through a REAL javax.imageio decode on the executor
    * (mapPartitions, the codec seam), each image collapses to a 64-bit
    * perceptual dHash, and the hashes dedup exactly like C3's simhash tier:
    * 4 × 16-bit band keys, candidates ONLY from band-key equality joins, the
    * MaxBucket degenerate-bucket guard, full-hash Hamming ≤ 3 verification,
    * keeper = min doc_id. The image class count scales with the corpus
    * (≈12 copies per image at any sf) so bucket sizes — and the dup rate —
    * are scale-stable. 100 TB shape is C3's: the shuffle carries (band,
    * doc_id, hash) rows, never the media bytes; the decode is a zero-shuffle
    * pure map; pairwise work is bounded per bucket. The oracle reproduces
    * the pixel formula, the dHash bits and the banding closed-form in SQL —
    * any PNG encode/decode deviation moves a pixel and breaks the hash
    * match, so the real codec path is value-gated (the C12c trick applied to
    * a hash instead of a mean). */
  /** The gradient corpus's image-class count — ONE definition for the three
    * Scala call sites (C12e resize, the D12 stage source, the hash store);
    * must stay bit-in-sync with the SQL mirror in gradPixelCtes
    * (`GREATEST(41, COUNT(*) // 12)`), or the value gates break. ≈12 copies
    * per image at any sf keeps bucket sizes and the dup rate scale-stable. */
  private def gradClassCount(spark: SparkSession, sfDir: String): Long =
    math.max(41L, graft.Tables.load(spark, sfDir, "documents").count() / 12L)

  /** The gradient-PNG media corpus as a (media_id, media) frame — the stage
    * source for the D12 landing directory (byte-identical payloads to the
    * ones C37 hashes, so stream-side and batch-side hashes agree). */
  private[graft] def gradMediaTable(spark: SparkSession, sfDir: String): DataFrame =
    syntheticMediaTable(spark, sfDir, "image", gradPngBytes(gradClassCount(spark, sfDir)))
      .select(col("media_id"), col("media"))

  /** The (doc_id, dhash) store: ONE decode+hash pass over the media corpus,
    * shared by the batch tier (C37 reads it on both band-join sides and in
    * the final left join) and the streaming tier's resolve (D12 looks
    * candidate hashes up here instead of carrying them through keyed state —
    * the hash is a deterministic row-local function of the bytes, so a
    * lookup is bit-identical to having carried it). PERSISTED under the
    * StoreFp sidecar (r15 verdict #3): the decode+hash pass is the media
    * corpus-generation cost, and a fresh JVM adopts the table instead of
    * re-decoding — dhashes are 64-bit ints of deterministically-synthesized
    * PNGs through a deterministic decode, so adoption is bit-exact
    * (StoreFpSpec pins it). Session memo on top, C2's discipline. */
  private[graft] def mediaHashes(spark: SparkSession, sfDir: String): DataFrame = {
    val fp = "mediahash:" + graft.Tables.fingerprint(sfDir, "documents")
    Dedup.memoize(spark, sfDir, fp) {
      spark.table(ensureMediaHashTable(spark, sfDir, fp))
    }
  }

  private[graft] def ensureMediaHashTable(spark: SparkSession, sfDir: String,
    fp: String): String = this.synchronized {
    import spark.implicits._
    val tbl = "media_hashes" + graft.GraftConf.slug(sfDir)
    graft.StoreFp.ensureTable(spark, tbl, fp) {
      syntheticMediaTable(spark, sfDir, "image",
          gradPngBytes(gradClassCount(spark, sfDir)))
        .mapPartitions(_.map(row => (row.media_id, dHashOfBytes(row.media))))
        .toDF("doc_id", "dhash")
        .write.mode("overwrite").saveAsTable(tbl)
    }
    tbl
  }

  def dedupMedia(spark: SparkSession, sfDir: String): DataFrame = {
    val hashes = mediaHashes(spark, sfDir)
    val chunks = array((0 until 4).map { j =>
      shiftrightunsigned(col("dhash"), 16 * j).bitwiseAND(lit(0xFFFFL))
    }: _*)
    val chunkedRaw = hashes.select(col("doc_id"), col("dhash"), posexplode(chunks))
      .toDF("doc_id", "dhash", "chunk_id", "chunk_key")
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("chunk_id"), col("chunk_key"))
    val chunked = chunkedRaw
      .withColumn("bucket_n", count(lit(1)).over(wc))
      .filter(col("bucket_n") <= Dedup.MaxBucket)
      .drop("bucket_n")
    val pairs = chunked.as("x").join(chunked.as("y"),
        col("x.chunk_id") === col("y.chunk_id") &&
        col("x.chunk_key") === col("y.chunk_key") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.dhash").bitwiseXOR(col("y.dhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
    val dupOf = pairs.groupBy(col("doc_b").as("doc_id"))
      .agg(min(col("doc_a")).as("dup_of"))
    hashes.join(dupOf, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dhash"), col("dup_of"),
        col("dup_of").isNotNull.as("is_duplicate"))
      .orderBy(col("doc_id"))
  }

  /** The shared gradient-pixel CTE chain (d → m → hx) for the C37/C12e
    * oracles: image class + perturbation flag, per-row md5 strings, and the
    * 72 decoded pixel levels as BIGINT columns — the SQL mirror of
    * gradPngBytes followed by a perfect PNG roundtrip. */
  private def gradPixelCtes: String = {
    val mCols = (0 until 8)
      .map(y => s"md5(CAST(key AS VARCHAR) || ':$y') AS m$y").mkString(",\n  ")
    val pxCols = (for (y <- 0 until 8; x <- 0 until 9) yield {
      val base = s"CAST(('0x' || substr(m$y, ${2 * x + 1}, 2)) AS BIGINT)"
      s"CASE WHEN pert AND key % 9 = $x AND key % 8 = $y " +
        s"THEN LEAST($base + 16, 255) ELSE $base END AS p_${x}_$y"
    }).mkString(",\n  ")
    s"""d AS (
       | SELECT doc_id,
       |  CAST(doc_id % GREATEST(41, (SELECT COUNT(*) FROM documents) // 12) AS BIGINT) AS key,
       |  (doc_id % 3 = 0) AS pert
       | FROM documents),
       |m AS (
       | SELECT doc_id, key, pert,
       |  $mCols
       | FROM d),
       |hx AS (
       | SELECT doc_id,
       |  $pxCols
       | FROM m)""".stripMargin
  }

  /** The dHash bit expression over the hx pixel columns: the same 64
    * darker-than-right-neighbor bits as dHash64 (bit 63 via the subtraction
    * form signed BIGINT requires). Shared by the C37 and D12 oracles. */
  private def dhashBitsSql: String = (0 until 64).map { i =>
    val x = i % 8; val y = i / 8
    val cond = s"p_${x}_$y < p_${x + 1}_$y"
    if (i == 63)
      s"CASE WHEN $cond THEN CAST(-9223372036854775807 - 1 AS BIGINT) ELSE 0 END"
    else s"CASE WHEN $cond THEN CAST(${1L << i} AS BIGINT) ELSE 0 END"
  }.mkString("\n   + ")

  /** The 4 × 16-bit band-key fanout over hh. Shared by the C37/D12 oracles. */
  private def dhashChunksSql: String = (0 until 4).map { j =>
    s"SELECT doc_id, dhash, $j AS chunk_id, (dhash >> ${16 * j}) & 65535 AS chunk_key FROM hh"
  }.mkString("\n UNION ALL ")

  /** Generated oracle for C37: pixel levels from the same md5 formula, the
    * dHash bit closed form, C3's banding/guard/Hamming SQL. */
  def dedupMediaSql: String = {
    val bits = dhashBitsSql
    val chunks = dhashChunksSql
    s"""WITH ${gradPixelCtes},
       |hh AS (
       | SELECT doc_id,
       |  $bits AS dhash
       | FROM hx),
       |chunked_all AS (
       | $chunks),
       |chunked AS (
       | SELECT * FROM chunked_all
       | QUALIFY COUNT(*) OVER (PARTITION BY chunk_id, chunk_key) <= ${Dedup.MaxBucket}),
       |pairs AS (
       | SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |  bit_count(xor(x.dhash, y.dhash)) AS hamming
       | FROM chunked x JOIN chunked y
       |  ON x.chunk_id = y.chunk_id AND x.chunk_key = y.chunk_key AND x.doc_id < y.doc_id),
       |dup AS (
       | SELECT doc_b AS doc_id, MIN(doc_a) AS dup_of
       | FROM pairs WHERE hamming <= 3 GROUP BY doc_b)
       |SELECT h.doc_id, h.dhash, dup.dup_of, dup.dup_of IS NOT NULL AS is_duplicate
       |FROM hh h LEFT JOIN dup ON h.doc_id = dup.doc_id
       |ORDER BY h.doc_id""".stripMargin
  }

  /** Generated oracle for D12: C37's pixel/hash/banding SQL with the batch
    * drop-the-bucket guard replaced by the streaming KEEPER-RANK guard — the
    * first MaxBucket docs per band (ROW_NUMBER by doc_id, the arrival order
    * under monotone ingest) are keepers; a later arrival in a saturated band
    * emits nothing. Only y's rank needs the bound: x.doc_id < y.doc_id
    * implies x ranks below y, so x is a keeper whenever y is. */
  def streamDedupMediaSql: String =
    s"""WITH ${gradPixelCtes},
       |hh AS (
       | SELECT doc_id,
       |  $dhashBitsSql AS dhash
       | FROM hx),
       |chunked_all AS (
       | $dhashChunksSql),
       |rk AS (
       | SELECT doc_id, dhash, chunk_id, chunk_key,
       |  ROW_NUMBER() OVER (PARTITION BY chunk_id, chunk_key ORDER BY doc_id) AS rk
       | FROM chunked_all),
       |pairs AS (
       | SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |  bit_count(xor(x.dhash, y.dhash)) AS hamming
       | FROM rk x JOIN rk y
       |  ON x.chunk_id = y.chunk_id AND x.chunk_key = y.chunk_key
       |   AND x.doc_id < y.doc_id AND y.rk <= ${Dedup.MaxBucket}),
       |dup AS (
       | SELECT doc_b AS doc_id, MIN(doc_a) AS dup_of
       | FROM pairs WHERE hamming <= 3 GROUP BY doc_b)
       |SELECT h.doc_id, h.dhash, dup.dup_of, dup.dup_of IS NOT NULL AS is_duplicate
       |FROM hh h LEFT JOIN dup ON h.doc_id = dup.doc_id
       |ORDER BY h.doc_id""".stripMargin

  // ----- C61: audio perceptual near-dedup (`dedup_media_wav`) -----

  /** Synthesized constant-per-window PCM WAV for C61 — the audio analog of
    * gradPngBytes: 65 windows × 8 frames of mono 8 kHz 16-bit LE PCM, each
    * window a CONSTANT amplitude md5-derived from the document's audio
    * CLASS (`doc_id % nClasses` — several docs share one recording, the
    * planted duplicates), with every third doc carrying a one-window +16
    * gain bump (the planted NEAR-duplicate: it flips at most the two
    * delta-sign comparisons that touch that window). The hand-rolled RIFF
    * layout is byte-deterministic (wavBytes' rule), and constant windows
    * make every decoded window sum exact integer arithmetic — the hash
    * collapses to the md5 closed form the DuckDB oracle reproduces. */
  private def wavGradBytes(nClasses: Long)(id: Long): Array[Byte] = {
    val key = id % nClasses
    val pert = id % 3 == 0
    val nWin = 65
    val framesPerWin = 8
    val dataLen = nWin * framesPerWin * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(8000).putInt(8000 * 2).putShort(2).putShort(16)
    bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
    var w = 0
    while (w < nWin) {
      val hex = md5Hex(s"$key:w:${w / 16}")
      var v = Integer.parseInt(hex.substring(2 * (w % 16), 2 * (w % 16) + 2), 16)
      if (pert && w == (key % nWin).toInt) v = math.min(v + 16, 255)
      var i = 0
      while (i < framesPerWin) { bb.putShort(v.toShort); i += 1 }
      w += 1
    }
    bb.array()
  }

  /** Real decode + acoustic delta hash in ONE row-local step (the audio
    * analog of dHashOfBytes, chromaprint's shape at miniature scale): parse
    * the container with javax.sound.sampled, slice the PCM stream into 65
    * equal windows, sum each window's samples as exact integers, and set
    * bit w when window w's energy is below window w+1's — a 64-bit
    * delta-sign fingerprint robust to uniform gain shifts, exactly as
    * dHash is to uniform brightness. Unparseable / non-PCM16 / too-short
    * payloads degrade to hash 0 (the codec-tolerance contract). */
  private[graft] def wavDhashOfBytes(bytes: Array[Byte]): Long = {
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val fmt = in.getFormat
        val pcm16 =
          fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
            fmt.getSampleSizeInBits == 16
        if (!pcm16) 0L
        else {
          val b = org.apache.commons.io.IOUtils.toByteArray(in)
          val n = b.length / 2
          val win = n / 65
          if (win == 0) 0L
          else {
            val sums = new Array[Long](65)
            var i = 0
            while (i < 65 * win) {
              val s =
                if (fmt.isBigEndian) ((b(2 * i) << 8) | (b(2 * i + 1) & 0xFF)).toShort
                else ((b(2 * i + 1) << 8) | (b(2 * i) & 0xFF)).toShort
              sums(i / win) += s
              i += 1
            }
            var h = 0L
            var w = 0
            while (w < 64) {
              if (sums(w) < sums(w + 1)) h |= 1L << w
              w += 1
            }
            h
          }
        }
      } finally in.close()
    } catch {
      case _: javax.sound.sampled.UnsupportedAudioFileException => 0L
      case _: java.io.IOException => 0L
    }
  }

  /** The (doc_id, dhash) audio-fingerprint store — C37's media-hash store
    * family applied to the WAV corpus: ONE decode+hash pass, persisted
    * under the StoreFp sidecar (fingerprints are 64-bit ints of
    * deterministically-synthesized WAVs through a deterministic decode, so
    * adoption is bit-exact), session memo on top. */
  private[graft] def wavHashes(spark: SparkSession, sfDir: String): DataFrame = {
    val fp = "wavhash:" + graft.Tables.fingerprint(sfDir, "documents")
    Dedup.memoize(spark, sfDir, fp) {
      spark.table(ensureWavHashTable(spark, sfDir, fp))
    }
  }

  private[graft] def ensureWavHashTable(spark: SparkSession, sfDir: String,
    fp: String): String = this.synchronized {
    import spark.implicits._
    val tbl = "wav_hashes" + graft.GraftConf.slug(sfDir)
    graft.StoreFp.ensureTable(spark, tbl, fp) {
      syntheticMediaTable(spark, sfDir, "audio",
          wavGradBytes(gradClassCount(spark, sfDir)))
        .mapPartitions(_.map(row => (row.media_id, wavDhashOfBytes(row.media))))
        .toDF("doc_id", "dhash")
        .write.mode("overwrite").saveAsTable(tbl)
    }
    tbl
  }

  /** C61 — audio near-dedup: C37's banding tier over the acoustic delta
    * hash (4 × 16-bit band keys, candidates only from band-key equality,
    * MaxBucket guard, Hamming ≤ 3 verify, keeper = min doc_id). 100 TB
    * shape identical to C37's: the decode+hash pass is a zero-shuffle pure
    * map whose output is the slim hash store — audio bytes never shuffle —
    * and pairwise work is bounded per band bucket. */
  def dedupMediaWav(spark: SparkSession, sfDir: String): DataFrame = {
    val hashes = wavHashes(spark, sfDir)
    val chunks = array((0 until 4).map { j =>
      shiftrightunsigned(col("dhash"), 16 * j).bitwiseAND(lit(0xFFFFL))
    }: _*)
    val chunkedRaw = hashes.select(col("doc_id"), col("dhash"), posexplode(chunks))
      .toDF("doc_id", "dhash", "chunk_id", "chunk_key")
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("chunk_id"), col("chunk_key"))
    val chunked = chunkedRaw
      .withColumn("bucket_n", count(lit(1)).over(wc))
      .filter(col("bucket_n") <= Dedup.MaxBucket)
      .drop("bucket_n")
    val pairs = chunked.as("x").join(chunked.as("y"),
        col("x.chunk_id") === col("y.chunk_id") &&
        col("x.chunk_key") === col("y.chunk_key") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.dhash").bitwiseXOR(col("y.dhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
    val dupOf = pairs.groupBy(col("doc_b").as("doc_id"))
      .agg(min(col("doc_a")).as("dup_of"))
    hashes.join(dupOf, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dhash"), col("dup_of"),
        col("dup_of").isNotNull.as("is_duplicate"))
      .orderBy(col("doc_id"))
  }

  /** The per-window amplitude CTE chain (dw → mw → aw) for the C61 oracle:
    * audio class + perturbation flag, the md5 window-amplitude strings, and
    * the 65 constant window levels as BIGINT columns — the SQL mirror of
    * wavGradBytes followed by a perfect WAV roundtrip (constant windows
    * make each decoded window SUM exactly 8·amp, so the delta comparisons
    * collapse to amplitude comparisons). */
  private def wavAmpCtes: String = {
    val mCols = (0 until 5)
      .map(g => s"md5(CAST(key AS VARCHAR) || ':w:$g') AS m$g").mkString(",\n  ")
    val aCols = (0 until 65).map { w =>
      val base = s"CAST(('0x' || substr(m${w / 16}, ${2 * (w % 16) + 1}, 2)) AS BIGINT)"
      s"CASE WHEN pert AND key % 65 = $w " +
        s"THEN LEAST($base + 16, 255) ELSE $base END AS a_$w"
    }.mkString(",\n  ")
    s"""dw AS (
       | SELECT doc_id,
       |  CAST(doc_id % GREATEST(41, (SELECT COUNT(*) FROM documents) // 12) AS BIGINT) AS key,
       |  (doc_id % 3 = 0) AS pert
       | FROM documents),
       |mw AS (
       | SELECT doc_id, key, pert,
       |  $mCols
       | FROM dw),
       |aw AS (
       | SELECT doc_id,
       |  $aCols
       | FROM mw)""".stripMargin
  }

  /** The 64 delta-sign bits over the aw window columns (bit 63 via the
    * subtraction form signed BIGINT requires — dhashBitsSql's rule). */
  private def wavBitsSql: String = (0 until 64).map { w =>
    val cond = s"a_$w < a_${w + 1}"
    if (w == 63)
      s"CASE WHEN $cond THEN CAST(-9223372036854775807 - 1 AS BIGINT) ELSE 0 END"
    else s"CASE WHEN $cond THEN CAST(${1L << w} AS BIGINT) ELSE 0 END"
  }.mkString("\n   + ")

  /** Generated oracle for C61: window amplitudes from the same md5 formula,
    * the delta-sign bit closed form, C3/C37's banding/guard/Hamming SQL. */
  def dedupMediaWavSql: String =
    s"""WITH ${wavAmpCtes},
       |hh AS (
       | SELECT doc_id,
       |  $wavBitsSql AS dhash
       | FROM aw),
       |chunked_all AS (
       | $dhashChunksSql),
       |chunked AS (
       | SELECT * FROM chunked_all
       | QUALIFY COUNT(*) OVER (PARTITION BY chunk_id, chunk_key) <= ${Dedup.MaxBucket}),
       |pairs AS (
       | SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |  bit_count(xor(x.dhash, y.dhash)) AS hamming
       | FROM chunked x JOIN chunked y
       |  ON x.chunk_id = y.chunk_id AND x.chunk_key = y.chunk_key AND x.doc_id < y.doc_id),
       |dup AS (
       | SELECT doc_b AS doc_id, MIN(doc_a) AS dup_of
       | FROM pairs WHERE hamming <= 3 GROUP BY doc_b)
       |SELECT h.doc_id, h.dhash, dup.dup_of, dup.dup_of IS NOT NULL AS is_duplicate
       |FROM hh h LEFT JOIN dup ON h.doc_id = dup.doc_id
       |ORDER BY h.doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_pipeline" -> (mmPipeline _),
    "dedup_media_wav" -> (dedupMediaWav _),
    "mm_frame_sample" -> (mmFrameSample _),
    "mm_decode_png" -> (mmDecodePng _),
    "mm_decode_wav" -> (mmDecodeWav _),
    "mm_resize" -> (mmResize _),
    "dedup_media" -> (dedupMedia _))

  /** DuckDB replica of the media fabrication + StubCodec feature math: the
    * payload is the document's UTF-8 bytes in both engines, md5 agrees on
    * them, and every derived feature is integer/constant arithmetic. */
  val mmPipelineSql: String =
    """WITH m AS (
      | SELECT doc_id AS media_id,
      |  octet_length(CAST(text AS BLOB)) AS byte_len,
      |  (['image', 'audio', 'video'])[CAST(doc_id % 3 AS INT) + 1] AS format,
      |  CAST(('0x' || substr(md5(text), 1, 8)) AS INT64) AS h
      | FROM documents)
      |SELECT media_id, byte_len, format,
      | CAST(h % 640 AS INT) + 1 AS width,
      | CAST((h >> 16) % 480 AS INT) + 1 AS height,
      | CASE WHEN format = 'video' THEN CAST(byte_len % 30 AS INT) + 1 ELSE 1 END AS n_frames,
      | (h % 100000) / 100000.0 AS feature_norm
      |FROM m ORDER BY media_id""".stripMargin

  /** DuckDB replica of the video fan-out: same format rule (doc_id%3 = 2 →
    * 'video'), same frame count, same stride-5 range, same per-frame md5
    * feature (frame_idx concatenates as its decimal string in both
    * engines). */
  val mmFrameSampleSql: String =
    """WITH m AS (
      | SELECT doc_id AS media_id, text,
      |  CAST(octet_length(CAST(text AS BLOB)) % 30 AS INT) + 1 AS n_frames
      | FROM documents WHERE doc_id % 3 = 2),
      |f AS (
      | SELECT media_id, text, n_frames,
      |  unnest(range(0, n_frames, 5)) AS frame_idx
      | FROM m)
      |SELECT media_id, frame_idx, n_frames,
      | CAST(('0x' || substr(md5(text || '#' || frame_idx), 1, 8)) AS INT64)
      |   % 100000 / 100000.0 AS frame_feature
      |FROM f ORDER BY media_id, frame_idx""".stripMargin

  /** Oracles for the REAL-codec lanes: pure integer arithmetic on doc_id —
    * the payload generators were designed so decoded features collapse to
    * exactly these expressions (see pngBytes/wavBytes scaladoc). The real
    * codecs' only job the oracle can't see — parsing actual PNG zlib streams
    * / RIFF chunks — is exercised because ANY parse deviation would move
    * width/height/n_frames/feature_norm off the closed form. */
  val mmDecodePngSql: String =
    """SELECT doc_id AS media_id,
      | CAST(doc_id % 13 AS INT) + 4 AS width,
      | CAST(doc_id % 7 AS INT) + 4 AS height,
      | 1 AS n_frames,
      | CAST(doc_id % 256 AS DOUBLE) / 255.0 AS feature_norm
      |FROM documents ORDER BY media_id""".stripMargin

  val mmDecodeWavSql: String =
    """SELECT doc_id AS media_id,
      | 8000 AS width,
      | 1 AS height,
      | CAST(doc_id % 50 AS INT) + 10 AS n_frames,
      | abs((doc_id % 30001) - 15000) / 32768.0 AS feature_norm
      |FROM documents ORDER BY media_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "mm_pipeline" -> mmPipelineSql,
    "dedup_media_wav" -> dedupMediaWavSql,
    "mm_frame_sample" -> mmFrameSampleSql,
    "mm_decode_png" -> mmDecodePngSql,
    "mm_decode_wav" -> mmDecodeWavSql,
    "mm_resize" -> mmResizeSql,
    "dedup_media" -> dedupMediaSql)
}
