package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Multimodal-column plumbing: image/audio/video as opaque `binary` content
 * plus typed metadata, with metadata, container-decode and perceptual-hash
 * stages. Decoding is a batched partition-wise parse inside
 * `mapPartitions` (the Scala analog of PySpark's mapInPandas batch UDF:
 * one JVM-side batch iterator per partition) of two real container
 * formats, WAV and BMP, in pure JVM code.
 */
object Multimodal {

  case class MediaRow(media_id: Long, kind: String, content: Array[Byte])

  /** Demo media table derived from any (id, text) table: content = utf-8
    * bytes. At 100 TB the binary column arrives from parquet/lance as-is. */
  def demoMediaTable(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col(idCol), lit(3)) + lit(1)).cast("int")).as("kind"),
      encode(col(textCol), "UTF-8").as("content"))

  /** Lightweight metadata projection (no decode): byte length + sha256. */
  def withMediaMeta(media: DataFrame): DataFrame =
    media
      .withColumn("byte_len", length(col("content")))
      .withColumn("sha", sha2(col("content"), 256))

  // ======= real containers: WAV (RIFF) + BMP, pure JVM =======

  /** Byte-level writers/parsers for two trivial real container formats.
    * The writers emit spec-valid files (playable/viewable); the parser
    * reads the actual little-endian header fields at their spec offsets
    * and validates magics and sizes — no field is echoed from the
    * generator, so a wrong offset or endianness shows up as an oracle
    * mismatch (or a thrown parse error), not silently. */
  object MediaContainers {
    private def putLe32(b: Array[Byte], off: Int, v: Int): Unit = {
      b(off) = v.toByte; b(off + 1) = (v >>> 8).toByte
      b(off + 2) = (v >>> 16).toByte; b(off + 3) = (v >>> 24).toByte
    }
    private def putLe16(b: Array[Byte], off: Int, v: Int): Unit = {
      b(off) = v.toByte; b(off + 1) = (v >>> 8).toByte
    }
    private def le32(b: Array[Byte], off: Int): Int =
      (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
        ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)
    private def le16(b: Array[Byte], off: Int): Int =
      (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
    private def tag(b: Array[Byte], off: Int, s: String): Boolean =
      s.indices.forall(i => b(off + i) == s.charAt(i).toByte)

    /** Canonical 44-byte-header PCM WAV; payload zero-padded to the block
      * align (channels × 2 bytes at 16-bit). */
    def wav(sampleRate: Int, channels: Int, payload: Array[Byte]): Array[Byte] = {
      val bits = 16
      val blockAlign = channels * bits / 8
      val dataLen = ((payload.length + blockAlign - 1) / blockAlign) * blockAlign
      val out = new Array[Byte](44 + dataLen)
      "RIFF".getBytes.copyToArray(out, 0)
      putLe32(out, 4, 36 + dataLen)
      "WAVE".getBytes.copyToArray(out, 8)
      "fmt ".getBytes.copyToArray(out, 12)
      putLe32(out, 16, 16)              // fmt chunk size
      putLe16(out, 20, 1)               // PCM
      putLe16(out, 22, channels)
      putLe32(out, 24, sampleRate)
      putLe32(out, 28, sampleRate * blockAlign) // byte rate
      putLe16(out, 32, blockAlign)
      putLe16(out, 34, bits)
      "data".getBytes.copyToArray(out, 36)
      putLe32(out, 40, dataLen)
      payload.copyToArray(out, 44)
      out
    }

    /** 24-bpp bottom-up BMP of fixed `width`; payload zero-padded to whole
      * rows. Width is kept a multiple of 4 so rows need no padding bytes. */
    def bmp(width: Int, payload: Array[Byte]): Array[Byte] = {
      require(width % 4 == 0, "width multiple of 4 => no row padding")
      val rowBytes = width * 3
      val height = math.max(1, (payload.length + rowBytes - 1) / rowBytes)
      val imageSize = height * rowBytes
      val out = new Array[Byte](54 + imageSize)
      out(0) = 'B'; out(1) = 'M'
      putLe32(out, 2, 54 + imageSize)
      putLe32(out, 10, 54)              // pixel data offset
      putLe32(out, 14, 40)              // BITMAPINFOHEADER size
      putLe32(out, 18, width)
      putLe32(out, 22, height)
      putLe16(out, 26, 1)               // planes
      putLe16(out, 28, 24)              // bpp
      putLe32(out, 30, 0)               // BI_RGB
      putLe32(out, 34, imageSize)
      payload.copyToArray(out, 54)
      out
    }

    /** dHash (difference hash, the standard perceptual image fingerprint)
      * over the BMP pixel grid: nearest-neighbor-sample an 8-row × 9-col
      * grayscale grid (row i at pixel row (i·(h−1)) div 7, col j at pixel
      * col (j·(w−1)) div 8), gray = (b+g+r) div 3, bit(i,j) = gray(i,j) >
      * gray(i,j+1) — 64 bits packed LSB-first as two NON-NEGATIVE 32-bit
      * halves (bits 0..31, 32..63), so cross-engine replay never touches
      * the long sign bit. Every field is read from the parsed header;
      * all-integer, so a SQL oracle re-derives the hash exactly from the
      * payload bytes. Point-sampling (not area-averaging) keeps the
      * arithmetic integer-exact; for near-dup detection on same-size
      * images the two are equally discriminative. */
    def dHash64(b: Array[Byte]): (Long, Long) = {
      require(b.length >= 54 && b(0) == 'B' && b(1) == 'M', "not a BMP")
      val w = le32(b, 18)
      val h = le32(b, 22)
      require(w % 4 == 0 && w > 0 && h > 0, s"unsupported BMP geometry ${w}x$h")
      val rowBytes = w * 3
      def gray(r: Int, c: Int): Int = {
        val off = 54 + r * rowBytes + c * 3
        ((b(off) & 0xff) + (b(off + 1) & 0xff) + (b(off + 2) & 0xff)) / 3
      }
      var h0 = 0L
      var h1 = 0L
      var i = 0
      while (i < 8) {
        val r = i * (h - 1) / 7
        var j = 0
        while (j < 8) {
          if (gray(r, j * (w - 1) / 8) > gray(r, (j + 1) * (w - 1) / 8)) {
            val bit = i * 8 + j
            if (bit < 32) h0 |= 1L << bit else h1 |= 1L << (bit - 32)
          }
          j += 1
        }
        i += 1
      }
      (h0, h1)
    }

    /** Frame-energy fingerprint over the WAV payload: 65 contiguous byte
      * frames (frame f covers payload offsets [(f·dl) div 65, ((f+1)·dl)
      * div 65)), energy = Σ unsigned bytes, bit f = energy(f) >
      * energy(f+1) — the audio analog of [[dHash64]], same 64-bit
      * two-half packing. Empty payload → (0, 0). */
    def energyHash64(b: Array[Byte]): (Long, Long) = {
      require(b.length >= 44 && tag(b, 0, "RIFF") && tag(b, 8, "WAVE"), "not a WAV")
      val dl = le32(b, 40).toLong
      val energy = new Array[Long](65)
      var f = 0
      while (f < 65) {
        var p = f * dl / 65
        val end = (f + 1) * dl / 65
        var s = 0L
        while (p < end) { s += (b(44 + p.toInt) & 0xff); p += 1 }
        energy(f) = s
        f += 1
      }
      var h0 = 0L
      var h1 = 0L
      var bit = 0
      while (bit < 64) {
        if (energy(bit) > energy(bit + 1)) {
          if (bit < 32) h0 |= 1L << bit else h1 |= 1L << (bit - 32)
        }
        bit += 1
      }
      (h0, h1)
    }

    /** (format, width, height, sample_rate, n_units): pixels for BMP,
      * samples for WAV — every value read from the parsed header. */
    def parse(b: Array[Byte]): (String, Long, Long, Long, Long) = {
      if (b.length >= 54 && b(0) == 'B' && b(1) == 'M') {
        require(le32(b, 2) == b.length, s"BMP file-size field ${le32(b, 2)} != ${b.length}")
        require(le16(b, 28) == 24, s"unsupported bpp ${le16(b, 28)}")
        val w = le32(b, 18).toLong
        val h = le32(b, 22).toLong
        ("bmp", w, h, 0L, w * h)
      } else if (b.length >= 44 && tag(b, 0, "RIFF") && tag(b, 8, "WAVE")) {
        require(tag(b, 12, "fmt ") && tag(b, 36, "data"), "non-canonical WAV layout")
        require(le16(b, 20) == 1, "not PCM")
        val channels = le16(b, 22)
        val rate = le32(b, 24).toLong
        val blockAlign = le16(b, 32)
        val dataLen = le32(b, 40).toLong
        require(44 + dataLen == b.length, s"WAV data-size field $dataLen != ${b.length - 44}")
        ("wav", 0L, 0L, rate, dataLen / blockAlign)
      } else throw new IllegalArgumentException(
        s"unrecognized container (${b.length} bytes, magic ${b.take(4).mkString(",")})")
    }
  }

  /** Demo table with REAL container bytes: image/video docs become valid
    * 24-bpp BMPs (video = first keyframe), audio docs valid PCM WAVs, the
    * text bytes as payload. Generation parameters are deterministic in
    * media_id so a SQL oracle can derive the expected decoded fields
    * independently of the parser. */
  def demoContainerTable(spark: SparkSession, df: DataFrame,
                         idCol: String, textCol: String): DataFrame = {
    import spark.implicits._
    df.select(col(idCol).cast("long").as("media_id"),
        encode(col(textCol), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        val kind = (id % 3) match {
          case 0 => "image"; case 1 => "audio"; case _ => "video"
        }
        val content =
          if (kind == "audio")
            MediaContainers.wav(8000 + (id % 5).toInt * 2000, 1 + (id % 2).toInt, payload)
          else MediaContainers.bmp(16, payload)
        MediaRow(id, kind, content)
      })
      .toDF()
  }

  case class MediaDecoded(media_id: Long, kind: String, byte_len: Long,
                          format: String, width: Long, height: Long,
                          sample_rate: Long, n_units: Long)

  case class MediaHash(media_id: Long, format: String, h0: Long, h1: Long)

  /** Per-media 64-bit perceptual fingerprint — dHash for BMP pixels,
    * frame-energy hash for WAV payloads ([[MediaContainers.dHash64]] /
    * [[MediaContainers.energyHash64]]) — as two non-negative 32-bit
    * halves. Batched partition-wise parse (the [[decodeContainers]]
    * shape): the binary column is consumed on the scan and never leaves
    * the executor; downstream near-dup pairing rides (id, format, h0, h1)
    * rows only — at 100 TB of media the pairing stage shuffles 32 B/doc.
    * Feed to [[Dedup.hash64Pairs]] for banded near-dup pairs. */
  def perceptualHashes(spark: SparkSession, media: DataFrame): Dataset[MediaHash] = {
    import spark.implicits._
    media.select("media_id", "kind", "content").as[MediaRow]
      .mapPartitions(_.map { r =>
        val isBmp = r.content.length >= 2 && r.content(0) == 'B' && r.content(1) == 'M'
        val (h0, h1) =
          if (isBmp) MediaContainers.dHash64(r.content)
          else MediaContainers.energyHash64(r.content)
        MediaHash(r.media_id, if (isBmp) "bmp" else "wav", h0, h1)
      })
  }

  /**
   * DEFAULT media dedup: perceptual fingerprints → banded near-dup pairs
   * → LINEAR keep-list, one row per media item (id, cluster, keeper,
   * is_keeper). The pair table ([[Dedup.hash64Pairs]]) stays available
   * as an opt-in diagnostic, but it is QUADRATIC in the replication
   * factor (measured 16.9 M pairs at an sf10 probe on ~0.5 M items), so
   * the keep-one-per-cluster list is what a pipeline should consume:
   * `filter(is_keeper = 0)` is the drop list. Keeper = the cluster
   * member with the LARGEST container (byte length desc, id asc — the
   * keep-the-highest-fidelity-copy heuristic); pairing is format-scoped
   * as in the pair op. `maxHamming` ≤ 3 uses 4×16-bit banding, 4–7 the
   * 8×8-bit bands (recompressed-media radius).
   *
   * Scale shape: content bytes are consumed in the fingerprint scan and
   * never shuffle; clustering runs on the pair population; the one
   * corpus-sized join is (id, byte_len) against the labels. Output is
   * |media| rows at any replication factor.
   */
  def dedupMediaClusters(spark: SparkSession, media: DataFrame,
                         maxHamming: Int = 3,
                         maxBucket: Int = 10000): DataFrame =
    // the equal-fingerprint collapse path: identical-hash media (the
    // re-hosted-exact-copy mass that dominates real crawls) pair once
    // per DISTINCT fingerprint instead of once per copy-pair — output
    // identical to the uncollapsed graph (Dedup.hash64KeepList contract)
    Dedup.hash64KeepList(perceptualHashes(spark, media).toDF(),
      "media_id", "format",
      media.select(col("media_id"), length(col("content")).as("__blen")),
      "media_id", "__blen", maxHamming, maxBucket)

  /** Decode: batched partition-wise byte-level parse of the WAV/BMP
    * container headers (mapPartitions; the binary column is dropped from
    * the output). */
  def decodeContainers(spark: SparkSession, media: DataFrame): Dataset[MediaDecoded] = {
    import spark.implicits._
    media.select("media_id", "kind", "content").as[MediaRow]
      .mapPartitions(_.map { r =>
        val (format, w, h, rate, units) = MediaContainers.parse(r.content)
        MediaDecoded(r.media_id, r.kind, r.content.length.toLong, format,
          w, h, rate, units)
      })
  }
}
