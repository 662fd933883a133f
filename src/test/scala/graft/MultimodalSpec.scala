package graft

import graft.operators.{ImageHeader, Multimodal}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.DHash

class MultimodalSpec extends SparkTestBase {
  import spark.implicits._

  test("header parsers recover exact planted dimensions per format") {
    assert(ImageHeader.decode(ImageHeader.pngHeader(640, 480)) == ((640, 480, "png")))
    assert(ImageHeader.decode(ImageHeader.gifHeader(320, 200)) == ((320, 200, "gif")))
    assert(ImageHeader.decode(ImageHeader.jpegHeader(1024, 768)) == ((1024, 768, "jpeg")))
    assert(ImageHeader.decode(ImageHeader.bmpHeader(13, 7)) == ((13, 7, "bmp")))
    assert(ImageHeader.decode(ImageHeader.pngHeader(1, 1)) == ((1, 1, "png")))
  }

  test("jpeg parser walks past extra APPn/COM segments to the SOF marker") {
    val base = ImageHeader.jpegHeader(800, 600)
    // splice an APP1 (Exif-style) and a COM segment between APP0 and SOF0
    val app1 = Array(0xff, 0xe1, 0x00, 0x08).map(_.toByte) ++ "Exif\u0000\u0000".getBytes("US-ASCII")
    val com = Array(0xff, 0xfe, 0x00, 0x05).map(_.toByte) ++ "abc".getBytes("US-ASCII")
    val spliced = base.slice(0, 20) ++ app1 ++ com ++ base.slice(20, base.length)
    assert(ImageHeader.decode(spliced) == ((800, 600, "jpeg")))
  }

  test("corrupt and truncated payloads decode to unknown") {
    assert(ImageHeader.decode(null) == ((0, 0, "unknown")))
    assert(ImageHeader.decode(Array.empty[Byte]) == ((0, 0, "unknown")))
    assert(ImageHeader.decode("GIF8".getBytes("US-ASCII")) == ((0, 0, "unknown")))
    assert(ImageHeader.decode(ImageHeader.pngHeader(9, 9).slice(0, 20)) == ((0, 0, "unknown")))
    // JPEG SOI but garbage after: lost marker sync
    assert(ImageHeader.decode(Array(0xff, 0xd8, 0x12, 0x34, 0x56, 0x78, 0x9a,
      0xbc, 0xde, 0xf0, 0x11, 0x22).map(_.toByte)) == ((0, 0, "unknown")))
  }

  test("distributed decode recovers planted geometry for a mixed-format corpus") {
    val planted = spark.range(0, 100).as[Long].map { id =>
      val w = (id % 640).toInt + 1
      val h = (id % 480).toInt + 1
      val bytes = (id % 4) match {
        case 0 => ImageHeader.pngHeader(w, h)
        case 1 => ImageHeader.gifHeader(w, h)
        case 2 => ImageHeader.jpegHeader(w, h)
        case _ => ImageHeader.bmpHeader(w, h)
      }
      (id, bytes)
    }.toDF("doc_id", "payload")
    val out = Multimodal.decodeMeta(planted).collect().sortBy(_.doc_id)
    assert(out.length == 100)
    out.foreach { m =>
      assert(m.width == (m.doc_id % 640).toInt + 1)
      assert(m.height == (m.doc_id % 480).toInt + 1)
      val expected = Seq("png", "gif", "jpeg", "bmp")((m.doc_id % 4).toInt)
      assert(m.format == expected)
    }
  }

  test("frameSample: header round-trip, every-3rd offsets, sampled-byte md5 by hand") {
    import spark.implicits._
    // doc 9 → 13 frames, samples f ∈ {0,3,6,9,12}; container = 14-byte
    // header + 13×32 = 430 bytes
    val docs = Seq((9L, "ignored")).toDF("doc_id", "text")
    val r = Multimodal.frameSample(docs).head()
    assert((r.getLong(1), r.getLong(2), r.getLong(4)) == ((13L, 5L, 430L)))
    val md = java.security.MessageDigest.getInstance("MD5")
    Seq(0, 3, 6, 9, 12).foreach { f =>
      val frame = java.security.MessageDigest.getInstance("MD5")
        .digest(s"9:$f".getBytes("UTF-8")).map("%02x".format(_)).mkString
      md.update(frame.getBytes("UTF-8"))
    }
    assert(r.getString(3) == md.digest().map("%02x".format(_)).mkString)
  }

  test("pHash: identical payloads collide, a local edit stays Hamming-near") {
    val base = ("the quick brown fox jumps over the lazy dog and keeps running " * 3)
    // digits (0x30) sit far below letters (0x61+), so the sampled
    // pixels over the patched span must flip some comparisons
    val edited = base.patch(36, "00000000", 8)
    val docs = Seq((20L, base), (40L, base), (60L, edited))
      .toDF("doc_id", "text")
    val out = Multimodal.pHash(docs).collect()
      .map(r => (r.getLong(0), r.getString(2))).toMap
    assert(out.size == 3)
    assert(out.values.forall(h => h.length == 64 && h.forall(c => c == '0' || c == '1')))
    assert(out(20L) == out(40L), "identical payloads must collide")
    val ham = out(20L).zip(out(60L)).count { case (a, b) => a != b }
    assert(ham > 0 && ham <= 16, s"one-char edit moved $ham of 64 bits")
  }

  /** The column formula the native DHash kernel replaced, kept here as
    * the reference: 72 hex-parsed strided "pixels", 64 `when` cells.
    * (doc_id, text) in, (doc_id, n_bytes, phash) out, no row filter. */
  private def referenceDHash(docs: DataFrame): DataFrame = {
    def px(i: Int): Column =
      conv(col("hx").substr(
        expr(s"CAST((((nb - 1) * $i) DIV 71) * 2 + 1 AS INT)"), lit(2)),
        16, 10).cast("int")
    val bits = (0 until 8).flatMap(r => (0 until 8).map(c =>
      when(px(r * 9 + c) > px(r * 9 + c + 1), lit("1")).otherwise(lit("0"))))
    docs.select(col("doc_id"), hex(col("text")).as("hx"),
        octet_length(col("text")).cast("long").as("nb"))
      .select(col("doc_id"), col("nb").as("n_bytes"), concat(bits: _*).as("phash"))
  }

  test("pHash: the native kernel equals the replaced column formula, codegen'd and interpreted") {
    val ascii = "the quick brown fox jumps over the lazy dog and keeps running " * 3
    // multibyte UTF-8: 2-, 3- and 4-byte characters, so the byte stride
    // the grid samples differs from the character stride
    val multi = "naïve café über straße 東京 こんにちは 🙂🚀 Ωμέγα résumé " * 2
    val exact72 = ("0123456789abcdefghijklmnopqrstuvwxyz" * 2).take(72)
    val long = (0 until 20000).map(i => ((i * 7919) % 94 + 33).toChar).mkString
    val short71 = exact72.take(71)
    assert(multi.getBytes("UTF-8").length != multi.length)
    assert(exact72.getBytes("UTF-8").length == 72 && short71.getBytes("UTF-8").length == 71)
    val docs = Seq[(Long, String)]((20L, ascii), (40L, multi), (60L, exact72),
      (80L, long), (100L, short71), (120L, null), (140L, "é"), (160L, ""), (7L, ascii))
      .toDF("doc_id", "text")
    // pHash keeps the sampled docs of 72 bytes or more
    val reference = referenceDHash(docs)
    val expected = reference.filter($"doc_id" % 20 === 0 && $"n_bytes" >= 72)
      .orderBy("doc_id").collect().toSeq
    assert(expected.map(_.getLong(0)) == Seq(20L, 40L, 60L, 80L))
    // the kernel alone matches the formula on every text, NULL and empty too
    val allExpected = reference.select($"doc_id", $"phash").collect().toSeq
    def check(session: SparkSession): Unit = {
      // an RDD-backed frame, so the optimizer cannot fold the projection
      // into a local relation (that would run only `eval`)
      val d = session.createDataFrame(docs.rdd, docs.schema)
      val rows = Multimodal.pHash(d).collect().toSeq
      assert(rows == expected)
      assert(d.select(col("doc_id"), DHash.dhash(col("text"))).collect().toSeq == allExpected)
    }
    check(spark)
    val interpreted = spark.newSession()
    interpreted.conf.set("spark.sql.codegen.wholeStage", "false")
    interpreted.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    check(interpreted)
  }

  test("mm_phash plans one kernel call, not a per-cell expression fan-out") {
    val plan = SparkEntry.queries("mm_phash")(spark, sfDir).queryExecution.optimizedPlan
    val nodes = PlanAudit.exprNodes(plan)
    assert(nodes <= 50, s"mm_phash optimized plan holds $nodes expression nodes")
  }

  test("nearDupPairs: banded pHash recalls planted near-twins, exact docs at 0, far docs absent") {
    val base = ("the quick brown fox jumps over the lazy dog and keeps running " * 3)
    val twin = base.dropRight(1) + "~" // same length: only the last cell moves
    val far = ("numbers 0123456789 all day long and nothing else to sample here " * 3)
    val docs = Seq((20L, base), (40L, base), (60L, twin), (80L, far))
      .toDF("doc_id", "text")
    val pairs = graft.operators.Multimodal.nearDupPairs(docs).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // exact duplicates collide at hamming 0; the last-byte twin is
    // within 1 of both copies (pigeonhole recall through the banding)
    assert(pairs((20L, 40L)) == 0L)
    assert(pairs.contains((20L, 60L)) && pairs((20L, 60L)) <= 1L, pairs)
    assert(pairs.contains((40L, 60L)))
    // the unrelated payload pairs with nothing
    assert(!pairs.keys.exists { case (a, b) => a == 80L || b == 80L }, pairs)
    // banded candidates verify by EXACT hamming: recompute brute force
    // from the signatures and compare the full pair set
    val sig = graft.operators.Multimodal.pHash(docs).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val brute = (for {
      a <- sig.keys; b <- sig.keys if a < b
      h = sig(a).zip(sig(b)).count { case (x, y) => x != y } if h <= 3
    } yield (a, b) -> h.toLong).toMap
    assert(pairs == brute, s"banding must equal brute force: $pairs vs $brute")
  }

  test("nearDupPairs refuses thresholds the 4x16 banding cannot recall") {
    val docs = Seq((20L, "x" * 80)).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Multimodal.nearDupPairs(docs, maxHamming = 4)
    }
    assert(e.getMessage.contains("maxHamming"))
    intercept[IllegalArgumentException] {
      graft.operators.Multimodal.nearDupPairs(docs, maxHamming = -1)
    }
  }

  test("WavHeader round-trips its own header and rejects garbage") {
    // 44100 Hz stereo 16-bit, 44100 frames → exactly 1000 ms
    val b = graft.operators.WavHeader.header(44100, 2, 16, 44100)
    assert(b.length == 44)
    assert(graft.operators.WavHeader.decode(b) == ((2, 44100, 16, 44100L)))
    assert(graft.operators.WavHeader.decode("not a wav at all, sorry!!!!!!!!!!!!!"
      .getBytes("US-ASCII")) == ((0, 0, 0, 0L)))
    assert(graft.operators.WavHeader.decode(null) == ((0, 0, 0, 0L)))
  }

  test("decodeAudio recovers planted geometry distributed") {
    import spark.implicits._
    val planted = Seq(
      (1L, graft.operators.WavHeader.header(8000, 1, 16, 4000)),
      (2L, graft.operators.WavHeader.header(48000, 2, 16, 12000)),
      (3L, "RIFFbroken".getBytes("US-ASCII")))
      .toDF("doc_id", "payload")
    val out = Multimodal.decodeAudio(planted).collect()
      .map(m => m.doc_id -> ((m.channels, m.sample_rate, m.n_frames, m.duration_ms)))
      .toMap
    assert(out(1L) == ((1, 8000, 4000L, 500L)))
    assert(out(2L) == ((2, 48000, 12000L, 250L)))
    assert(out(3L) == ((0, 0, 0L, 0L)))
  }
}
