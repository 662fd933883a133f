package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.DHash

/** Multimodal column handling: media payloads ride as opaque `binary`
  * columns with typed metadata structs alongside. Metadata decode is a
  * REAL header parse for the public container formats whose geometry
  * lives in fixed header fields (PNG, JPEG, GIF, BMP) — pure JVM byte
  * inspection, no codec dependency. Full pixel decode / feature
  * extraction would slot into the same mapPartitions shape with a codec
  * library on the executors.
  */
object Multimodal {

  case class MediaMeta(doc_id: Long, n_bytes: Int, width: Int, height: Int, format: String)

  /** Attach an opaque binary payload column (UTF-8 bytes of the text here;
    * in production this is the raw image/audio blob read from the lake). */
  def withPayload(docs: DataFrame): DataFrame =
    docs.withColumn("payload", col("text").cast("binary"))

  /** Payload byte accounting — pure builtins, oracle-checkable. */
  def byteStats(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), octet_length(col("text")).cast("long").as("n_bytes"))
      .orderBy("doc_id")

  /** Decode media metadata for a (doc_id, payload) input: one decode per
    * row via mapPartitions — no collect, partitioning preserved, the
    * distributed shape a codec-backed decoder uses unchanged. Payloads
    * that are not a recognized image format come back as
    * (format="unknown", width=0, height=0) rather than erroring: at
    * corpus scale undecodable blobs are data, not exceptions. */
  def decodeMeta(payloads: DataFrame): Dataset[MediaMeta] = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads
      .select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        // a NULL payload is data too: empty unknown, not an executor NPE
        if (bytes == null) MediaMeta(id, 0, 0, 0, "unknown")
        else {
          val (w, h, fmt) = ImageHeader.decode(bytes)
          MediaMeta(id, bytes.length, w, h, fmt)
        }
      })
  }

  /** Perceptual difference-hash (dHash) over an opaque payload — the
    * near-duplicate fingerprint for media blobs, with the DECODE step
    * a deterministic stub (strided byte sampling stands in for pixel
    * decode, since no codec ships in this container) and every other
    * stage real: an 8×9 "grayscale" grid is sampled at 72 strided
    * byte offsets, each row's adjacent-cell comparisons yield 64 bits,
    * and the bit string is the hash — identical payloads collide,
    * locally-perturbed payloads stay within small Hamming distance.
    * The hash is one native kernel call per row
    * ([[org.apache.spark.sql.graftext.DHash]], integer stride over the
    * UTF-8 bytes), so it replays byte-for-byte in the oracle's hex/
    * substr SQL; everything is one codegen'd map stage over the
    * sampled slice. Texts under 72 bytes and NULL texts are skipped. */
  def pHash(docs: DataFrame, sampleMod: Long = 20L): DataFrame =
    pHashUnsorted(docs, sampleMod).orderBy("doc_id")

  /** [[pHash]] without the presentation sort — the signature producer
    * for [[nearDupPairs]], whose banding join neither needs nor should
    * pay a global range-shuffle of the full signature table before the
    * persist (the sort exists only for mm_phash's deterministic gate
    * output). */
  private def pHashUnsorted(docs: DataFrame, sampleMod: Long = 20L): DataFrame =
    docs.filter(col("doc_id") % sampleMod === 0)
      .select(col("doc_id"), col("text"),
        octet_length(col("text")).cast("long").as("n_bytes"))
      .filter(col("n_bytes") >= 72)
      .select(col("doc_id"), col("n_bytes"), DHash.dhash(col("text")).as("phash"))

  /** Media near-duplicate pairs via BANDED perceptual hashes — the
    * image-dedup step of a multimodal curation pipeline (retrieve →
    * pHash → band → bucket-join → verify), composed from [[pHash]]
    * exactly like the text simhash family: the 64-bit dHash string
    * bands into 4×16-bit chunks (pigeonhole: any pair within hamming 3
    * shares at least one whole chunk), equal chunks bucket-join the
    * candidates — an EQUI-join, never an all-pairs product, so
    * candidate volume scales with collisions, not corpus² — and exact
    * hamming over the remaining few verifies (per-chunk base-2 conv →
    * xor → bit_count, codegen'd). The signature table is persisted:
    * the banding self-join would otherwise recompute the pHash subtree
    * twice (the r8 lesson). Fully engine-replayable: pHash is the
    * native integer-stride dHash kernel, banding is substring equality,
    * hamming is positional bit comparison. */
  def nearDupPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    // 4 bands of 16 bits guarantee recall only for hamming <= 3 (a pair
    // differing in 4+ bits can touch all four chunks); a larger threshold
    // would SILENTLY return an incomplete pair set (ADVICE r14).
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming must be in [0, 3] for 4x16 banding recall, got $maxHamming")
    import graft.Caches.TrackedPersist
    val sig = pHashUnsorted(docs)
      .persistTracked(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val chunks = (0 until 4).map(k =>
      struct(lit(k).as("k"), expr(s"substring(phash, ${k * 16 + 1}, 16)").as("chunk")))
    val banded = sig.select(col("doc_id"), col("phash"),
        explode(array(chunks: _*)).as("bc"))
      .select(col("doc_id"), col("phash"), col("bc.k").as("k"), col("bc.chunk").as("chunk"))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.k") === col("b.k") && col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.phash").as("pa"), col("b.phash").as("pb"))
      .distinct() // a pair sharing several chunks is ONE candidate
    val ham = (0 until 4).map(k =>
      expr(s"bit_count(cast(conv(substring(pa, ${k * 16 + 1}, 16), 2, 10) as bigint)" +
        s" ^ cast(conv(substring(pb, ${k * 16 + 1}, 16), 2, 10) as bigint))"))
      .reduce(_ + _)
    cand.select(col("doc_a"), col("doc_b"), ham.cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .orderBy("doc_a", "doc_b")
  }

  case class AudioMeta(doc_id: Long, n_bytes: Int, channels: Int,
    sample_rate: Int, bits: Int, n_frames: Long, duration_ms: Long)

  /** Decode audio metadata for a (doc_id, payload) input — the audio
    * face of [[decodeMeta]]: a REAL RIFF/WAVE chunk walk (canonical
    * Microsoft/IBM WAVE format: "fmt " carries channels/rate/width,
    * "data" carries the sample byte count; frame count = data size /
    * block align, duration from frames × 1000 / rate in integer math).
    * Same contract as the image decoder: non-WAV payloads come back
    * zeroed, one O(header) parse per row via mapPartitions, no shuffle,
    * partitioning preserved. */
  def decodeAudio(payloads: DataFrame): Dataset[AudioMeta] = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads
      .select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        if (bytes == null) AudioMeta(id, 0, 0, 0, 0, 0L, 0L)
        else {
          val (ch, sr, bits, frames) = WavHeader.decode(bytes)
          val durMs = if (sr > 0) frames * 1000L / sr else 0L
          AudioMeta(id, bytes.length, ch, sr, bits, frames, durMs)
        }
      })
  }

  case class FrameStats(doc_id: Long, n_frames: Long, n_sampled: Long,
    sample_md5: String, total_bytes: Long)

  /** Video-style frame sampling over an opaque binary container: parse
    * the frame count out of the HEADER BYTES, slice every `every`-th
    * fixed-size frame out of the payload, and fingerprint the sampled
    * bytes — the "sample k frames per clip" step of a video curation
    * pipeline, with the decode/slice plumbing real (header parse + byte
    * offsets + md5 over the sliced bytes, per row via mapPartitions —
    * the [[decodeMeta]] shape) and only the CODEC faked: payloads are
    * synthesized GFV1 containers ("GFV1" + 4-digit frame count +
    * 6-digit frame size + n×32-byte frames of md5-derived content) so
    * the whole pipeline — synthesis included — replays in the oracle;
    * a real build swaps synthesis for the lake read and the 32-byte
    * frames for codec output, and nothing downstream changes.
    *
    * Scale shape: synthesis + sampling are both pure map stages (no
    * shuffle anywhere); each row touches O(container) bytes once. */
  def frameSample(docs: DataFrame, every: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // synthesis (stands in for the file-bundle read; row-local)
    val payloads = docs.select(col("doc_id"),
      concat(lit("GFV1"),
        lpad((col("doc_id") % 13 + 4).cast("string"), 4, "0"),
        lpad(lit("32"), 6, "0"),
        concat_ws("", expr("transform(sequence(0, CAST(doc_id % 13 + 3 AS INT)), " +
          "f -> md5(concat(CAST(doc_id AS STRING), ':', CAST(f AS STRING))))")))
        .cast("binary").as("payload"))
    payloads.as[(Long, Array[Byte])].mapPartitions(_.map { case (id, bytes) =>
      val nFrames = new String(bytes, 4, 4, "UTF-8").toInt
      val frameSize = new String(bytes, 8, 6, "UTF-8").toInt
      val header = 14
      val sampled = (0 until nFrames).filter(_ % every == 0)
      val md = java.security.MessageDigest.getInstance("MD5")
      sampled.foreach(f => md.update(bytes, header + frameSize * f, frameSize))
      val hex = md.digest().map("%02x".format(_)).mkString
      FrameStats(id, nFrames.toLong, sampled.size.toLong, hex, bytes.length.toLong)
    }).toDF().orderBy("doc_id")
  }
}

/** Header-level geometry parse for the public image container formats.
  * Specs: PNG (W3C, IHDR chunk), JPEG/JFIF (ITU T.81 SOFn frame
  * headers), GIF87a/89a (logical screen descriptor), BMP
  * (BITMAPINFOHEADER). Only fixed header fields are read — never pixel
  * data — so this is O(header) per blob regardless of payload size. */
object ImageHeader {

  private def be16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
  private def be32(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) | ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) | ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)

  /** (width, height, format); (0, 0, "unknown") when not recognized. */
  def decode(b: Array[Byte]): (Int, Int, String) = {
    if (b == null) return (0, 0, "unknown")
    if (isPng(b)) (be32(b, 16), be32(b, 20), "png")
    else if (isGif(b)) (le16(b, 6), le16(b, 8), "gif")
    else if (isBmp(b)) (le32(b, 18), le32(b, 22), "bmp")
    else if (isJpeg(b)) decodeJpeg(b)
    else (0, 0, "unknown")
  }

  private def isPng(b: Array[Byte]): Boolean =
    b.length >= 24 &&
      (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G' &&
      b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R'

  private def isGif(b: Array[Byte]): Boolean =
    b.length >= 10 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8' &&
      (b(4) == '7' || b(4) == '9') && b(5) == 'a'

  private def isBmp(b: Array[Byte]): Boolean =
    b.length >= 26 && b(0) == 'B' && b(1) == 'M'

  private def isJpeg(b: Array[Byte]): Boolean =
    b.length >= 4 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8

  /** Walk JPEG segment markers to the first SOFn (start-of-frame) and
    * read its geometry. SOF markers are 0xC0–0xCF except C4 (DHT),
    * C8 (JPG ext) and CC (DAC). */
  private def decodeJpeg(b: Array[Byte]): (Int, Int, String) = {
    var i = 2
    while (i + 9 < b.length) {
      if ((b(i) & 0xff) != 0xff) return (0, 0, "unknown") // lost sync
      var marker = b(i + 1) & 0xff
      while (marker == 0xff && i + 2 < b.length) { i += 1; marker = b(i + 1) & 0xff } // fill bytes
      if (marker >= 0xc0 && marker <= 0xcf && marker != 0xc4 && marker != 0xc8 && marker != 0xcc) {
        // segment: len(2) precision(1) height(2) width(2)
        return (be16(b, i + 7), be16(b, i + 5), "jpeg")
      }
      if (marker == 0xd8 || (marker >= 0xd0 && marker <= 0xd7)) i += 2 // standalone
      else i += 2 + be16(b, i + 2)
    }
    (0, 0, "unknown")
  }

  // --- minimal header synthesis (testing/planting only) -------------------
  // Real images carry pixel data after these headers; geometry metadata
  // decode only needs the header fields, so planted payloads stop there.

  /** PNG signature + a valid IHDR chunk (CRC zeroed — not read). */
  def pngHeader(w: Int, h: Int): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(33)
    out.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    out.putInt(13).put("IHDR".getBytes("US-ASCII"))
    out.putInt(w).putInt(h)
    out.put(8.toByte).put(6.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    out.putInt(0) // CRC (unchecked by geometry parse)
    out.array()
  }

  /** GIF89a logical screen descriptor. */
  def gifHeader(w: Int, h: Int): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(13).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("GIF89a".getBytes("US-ASCII"))
    out.putShort(w.toShort).putShort(h.toShort)
    out.put(0.toByte).put(0.toByte).put(0.toByte)
    out.array()
  }

  /** JPEG SOI + APP0(JFIF) + SOF0 frame header. */
  def jpegHeader(w: Int, h: Int): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(39)
    out.put(Array(0xff, 0xd8).map(_.toByte))                 // SOI
    out.put(Array(0xff, 0xe0).map(_.toByte)).putShort(16)    // APP0 len 16
    out.put("JFIF".getBytes("US-ASCII")).put(0.toByte)
    out.put(Array[Byte](1, 2, 0)).putShort(72).putShort(72).put(0.toByte).put(0.toByte)
    out.put(Array(0xff, 0xc0).map(_.toByte)).putShort(17)    // SOF0 len 17
    out.put(8.toByte).putShort(h.toShort).putShort(w.toShort)
    out.put(3.toByte).put(Array[Byte](1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1))
    out.array()
  }

  /** BMP file header + BITMAPINFOHEADER. */
  def bmpHeader(w: Int, h: Int): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(54).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put('B'.toByte).put('M'.toByte).putInt(54).putShort(0).putShort(0).putInt(54)
    out.putInt(40).putInt(w).putInt(h)
    out.putShort(1).putShort(24).putInt(0).putInt(0)
    out.putInt(2835).putInt(2835).putInt(0).putInt(0)
    out.array()
  }
}

/** RIFF/WAVE header parse (canonical PCM WAV: RIFF container, "fmt "
  * chunk with channels/sample-rate/block-align/bit-width, "data" chunk
  * whose size in bytes divided by block align is the frame count). Only
  * chunk headers and the fixed "fmt " fields are read — never sample
  * data — so this is O(header) per blob regardless of payload size. */
object WavHeader {

  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) | ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)

  /** (channels, sample_rate, bits_per_sample, n_frames); zeros when the
    * payload is not a recognizable WAVE container. */
  def decode(b: Array[Byte]): (Int, Int, Int, Long) = {
    if (b == null || b.length < 36 ||
      !(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E'))
      return (0, 0, 0, 0L)
    var i = 12
    var ch = 0; var sr = 0; var bits = 0; var blockAlign = 0; var dataSize = 0L
    while (i + 8 <= b.length && i >= 0) {
      val id = new String(b, i, 4, "US-ASCII")
      val size = le32(b, i + 4)
      // a declared chunk size with the top bit set (le32 < 0) cannot fit in
      // a JVM byte array — treat the container as corrupt rather than let
      // the cursor stall or run backwards on an adversarial payload
      if (size < 0) return (0, 0, 0, 0L)
      if (id == "fmt " && i + 24 <= b.length) {
        ch = le16(b, i + 10); sr = le32(b, i + 12)
        blockAlign = le16(b, i + 20); bits = le16(b, i + 22)
      } else if (id == "data") dataSize = size & 0xffffffffL
      // RIFF chunks are word-aligned; advance in Long so i+8+size cannot
      // overflow Int into a negative (still-in-bounds) cursor
      val next = i.toLong + 8L + size + (size & 1)
      i = if (next > b.length) b.length else next.toInt
    }
    val frames = if (blockAlign > 0) dataSize / blockAlign else 0L
    (ch, sr, bits, frames)
  }

  /** 44-byte canonical PCM WAV header; the data chunk declares
    * `nFrames` frames but carries no sample bytes (metadata decode
    * never reads them — the planted-payload convention). */
  def header(sampleRate: Int, channels: Int, bits: Int, nFrames: Int): Array[Byte] = {
    val blockAlign = channels * bits / 8
    val dataSize = nFrames * blockAlign
    val out = java.nio.ByteBuffer.allocate(44).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
    out.put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(16)
    out.putShort(1.toShort).putShort(channels.toShort)
    out.putInt(sampleRate).putInt(sampleRate * blockAlign)
    out.putShort(blockAlign.toShort).putShort(bits.toShort)
    out.put("data".getBytes("US-ASCII")).putInt(dataSize)
    out.array()
  }
}
