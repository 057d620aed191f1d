package graft

import graft.operators.Multimodal
import graft.streaming.StreamingPhashDedup
import org.apache.spark.sql.functions._

/** Real pixel decode behind the multimodal seam (r14 verdict Next
  * #6): ImageIO decodes PNG/JPEG/GIF/BMP, the perceptual signature is
  * computed over DECODED LUMA, and the defining fixture is a
  * RE-ENCODED duplicate — the same pixels written as PNG and as BMP
  * (both lossless, wildly different bytes). Pixel-phash must catch
  * it; byte-phash must miss it. Everything non-image falls back to
  * the byte path bit-for-bit.
  */
class PixelDecodeSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic 48×32 test image: a luma gradient with a bright
    * block — enough structure that grid cells differ. */
  private def testImage(shift: Int = 0): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      48, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 32; x <- 0 until 48) {
      val v = (x * 5 + y * 3 + shift) % 256
      val rgb = (v << 16) | (v << 8) | v
      img.setRGB(x, y, if (x >= 30 && y >= 20) 0xffffff else rgb)
    }
    img
  }

  private def encode(img: java.awt.image.BufferedImage,
      fmt: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
    bos.toByteArray
  }

  private def mediaDf(rows: Seq[(Long, Array[Byte])]) =
    rows.toDF("doc_id", "payload")
      .withColumn("media_type", lit("image"))

  test("decodeImagePixels: PNG and BMP of the same image give identical luma; non-images None") {
    val img = testImage()
    val png = Multimodal.decodeImagePixels(encode(img, "png"))
    val bmp = Multimodal.decodeImagePixels(encode(img, "bmp"))
    assert(png.isDefined && bmp.isDefined)
    assert(png.get._1 === 48 && png.get._2 === 32)
    assert(png.get._3.toSeq === bmp.get._3.toSeq,
      "lossless re-encode must decode to identical luma")
    assert(Multimodal.decodeImagePixels("just text".getBytes).isEmpty)
    // corrupt payload WITH a PNG magic: decode fails, falls back to None
    val corrupt = encode(img, "png").take(16)
    assert(Multimodal.decodeImagePixels(corrupt).isEmpty)
  }

  test("re-encoded duplicate: pixel-phash catches what byte-phash misses") {
    val img = testImage()
    val png = encode(img, "png")
    val bmp = encode(img, "bmp")
    assert(!png.sameElements(bmp), "fixture needs different bytes")
    val media = mediaDf(Seq((1L, png), (2L, bmp)))
    // byte path: the two payloads share no frame bytes — no pair
    val bytePairs = Multimodal.phashNearDupPairs(
      media, frameBytes = 64, stride = 1)
    assert(bytePairs.count() === 0L,
      "byte-phash must MISS the re-encoded duplicate")
    // pixel path: identical decoded pixels ⇒ identical 60-bit grid
    // hash ⇒ a pair at hamming 0
    val pixPairs = Multimodal.phashNearDupPairs(
      media, frameBytes = 64, stride = 1, decodePixels = true)
      .select("doc_a", "doc_b", "min_hamming")
      .as[(Long, Long, Long)].collect().toSeq
    assert(pixPairs === Seq((1L, 2L, 0L)),
      "pixel-phash must CATCH the re-encoded duplicate at distance 0")
    // a genuinely different image does not pair with either encoding
    val other = encode(testImage(shift = 97), "png")
    val three = mediaDf(Seq((1L, png), (2L, bmp), (3L, other)))
    val pairs3 = Multimodal.phashNearDupPairs(
      three, frameBytes = 64, stride = 1, decodePixels = true)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSeq
    assert(pairs3 === Seq((1L, 2L)))
  }

  test("non-image payloads fall back to the byte path bit-for-bit") {
    val docs = Seq(
      (10L, ("the quick brown fox " * 20).getBytes),
      (11L, ("lorem ipsum dolor sit amet " * 16).getBytes))
    val media = mediaDf(docs)
    val off = Multimodal.frameSignatures(media, 64, 2).collect()
      .map(f => (f.doc_id, f.frame_idx, f.sig)).toSeq.sorted
    val on = Multimodal.frameSignatures(media, 64, 2, decodePixels = true)
      .collect().map(f => (f.doc_id, f.frame_idx, f.sig)).toSeq.sorted
    assert(on === off, "decodePixels must not change non-image signatures")
  }

  test("sampleFrames decoded path: re-encoded dup has identical frames; byte path differs") {
    val img = testImage()
    val media = mediaDf(Seq((1L, encode(img, "png")), (2L, encode(img, "bmp"))))
    def frameSets(decode: Boolean) =
      Multimodal.sampleFrames(media, frameBytes = 64, stride = 1,
          decodePixels = decode)
        .collect().map(m => m.doc_id ->
          m.frames.map(_.toSeq).toSeq).toMap
    val byte = frameSets(false)
    assert(byte(1L) !== byte(2L), "encoded bytes differ frame-wise")
    val pix = frameSets(true)
    assert(pix(1L) === pix(2L),
      "decoded luma frames must be identical across encodings")
  }

  test("streaming phash dedup with decodePixels: re-encoded dup caught against the index") {
    val img = testImage()
    val root = java.nio.file.Files.createTempDirectory("pix-idx").toString
    val idx = s"$root/phash_bands"
    val b0 = mediaDf(Seq((1L, encode(img, "png"))))
    // batch 0 admits the PNG; its PIXEL signature lands in the index
    assert(StreamingPhashDedup.dupIds(b0, idx, 64, 1,
      decodePixels = true).count() === 0L)
    StreamingPhashDedup.appendIndex(b0, idx, 64, 1, decodePixels = true)
    // batch 1 redelivers the SAME pixels as BMP — caught vs the index
    val b1 = mediaDf(Seq((5L, encode(img, "bmp"))))
    assert(StreamingPhashDedup.dupIds(b1, idx, 64, 1, decodePixels = true)
      .as[Long].collect().toSeq === Seq(5L))
    // byte mode against the pixel index FAILS FAST (r15 ADVICE: a
    // mixed-family probe compares different hash families and would
    // silently lose recall — the marker makes it loud)
    val ex = intercept[IllegalArgumentException] {
      StreamingPhashDedup.dupIds(b1, idx, 64, 1).count()
    }
    assert(ex.getMessage.contains("sig_mode"))
    // …and so does a mixed-family APPEND
    val ex2 = intercept[IllegalArgumentException] {
      StreamingPhashDedup.appendIndex(b1, idx, 64, 1)
    }
    assert(ex2.getMessage.contains("sig_mode"))
    // same-family probe and append stay open
    assert(StreamingPhashDedup.dupIds(b1, idx, 64, 1, decodePixels = true)
      .count() === 1L)
    StreamingPhashDedup.appendIndex(
      mediaDf(Seq((9L, encode(testImage(shift = 97), "png")))),
      idx, 64, 1, decodePixels = true)
  }

  test("sig_mode marker: byte-mode index rejects pixel-mode access") {
    val img = testImage()
    val root = java.nio.file.Files.createTempDirectory("pix-idx-b").toString
    val idx = s"$root/phash_bands"
    StreamingPhashDedup.appendIndex(
      mediaDf(Seq((1L, encode(img, "png")))), idx, 64, 1)
    val ex = intercept[IllegalArgumentException] {
      StreamingPhashDedup.dupIds(
        mediaDf(Seq((2L, encode(img, "bmp")))), idx, 64, 1,
        decodePixels = true).count()
    }
    assert(ex.getMessage.contains("sig_mode=byte"))
  }

  test("container-header confound: same-format PNGs false-merge at skipFrames=0, not at 1") {
    // two DIFFERENT same-dimension images share their first ~41 PNG
    // bytes (signature + IHDR), so frame 0's byte signature is
    // near-identical across every same-format file — the false-merge
    // + bucket-flood hazard measured at volume in r16, 925abfb (93 % of
    // a random corpus dropped). skipFrames=1 leaves only content
    // frames, which for UNRELATED content are encoding-random and
    // must not pair. (Random content, not the gradient fixture: PNG's
    // Sub filter turns a constant-shifted gradient into IDENTICAL
    // difference bytes, so two shifted gradients near-match on
    // content frames too — legitimately.)
    def noiseImage(seed: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(
        48, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 32; x <- 0 until 48) {
        var h = seed * 1000003 + y * 48 + x
        h ^= h >>> 16; h *= 0x85ebca6b; h ^= h >>> 13; h *= 0xc2b2ae35
        img.setRGB(x, y, h & 0xffffff)
      }
      img
    }
    val media = mediaDf(
      (0 until 200).map(i => (i.toLong, encode(noiseImage(i), "png"))))
    // the flood MECHANISM, pinned directly: band 0 of frame 0 covers
    // bytes 0-29 — entirely inside the shared header — so one bucket
    // key collects a large share of the corpus; content frames spread
    def maxBucket(skip: Int): Long =
      Multimodal.bandedSignatures(media, 64, 1, skipFrames = skip)
        .filter(col("band") === 0 &&
          (if (skip == 0) col("frame_idx") === 0 else lit(true)))
        .groupBy("key").count().agg(max("count")).head().getLong(0)
    assert(maxBucket(0) >= 100L,
      "frame 0's band-0 bucket must collect most of a same-format corpus")
    assert(maxBucket(1) <= 5L,
      "content-frame buckets must stay near-singleton")
    // and the observable consequence on pairs at Hamming <= 1
    val naive = Multimodal.phashNearDupPairs(media, 64, 1).count()
    val skipped = Multimodal.phashNearDupPairs(media, 64, 1, skipFrames = 1)
      .count()
    assert(naive > skipped, "header frames must inflate the pair count")
    assert(skipped === 0L,
      "content frames of different images must not pair once headers are skipped")
    // the pixel path is immune either way (it never signs container bytes)
    assert(Multimodal.phashNearDupPairs(media, 64, 1, decodePixels = true)
      .count() === 0L)
  }

  test("decompression bomb: forged 100000x100000 PNG header rejected before decode") {
    // a VALID PNG signature + IHDR chunk declaring absurd dimensions,
    // correct CRC, no raster data: the header precheck must reject it
    // (r15 ADVICE) — the pre-r16 code would have asked ImageIO to
    // allocate a 10-gigapixel raster and swallowed the OOM
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte))
    def be32(v: Long): Array[Byte] = Array(
      ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    val ihdr = "IHDR".getBytes ++ be32(100000) ++ be32(100000) ++
      Array[Byte](8, 2, 0, 0, 0)
    val crc = new java.util.zip.CRC32()
    crc.update(ihdr)
    bos.write(be32(13)); bos.write(ihdr); bos.write(be32(crc.getValue))
    val bomb = bos.toByteArray
    assert(Multimodal.decodeImagePixels(bomb).isEmpty,
      "over-budget dims must be rejected from the header")
    // the budget constant really is the documented overflow-safe bound
    assert(Multimodal.maxDecodePixels <= (1L << 27),
      "pixelSignature's Long cross-multiplication needs nPix <= 2^27")
    // …and an in-budget image still decodes (guard is a cap, not a break)
    assert(Multimodal.decodeImagePixels(encode(testImage(), "png")).isDefined)
  }
}
