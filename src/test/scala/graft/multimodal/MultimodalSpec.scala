package graft.multimodal

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.util.Tables

class MultimodalSpec extends SparkSpec {

  private def docs = Tables.documents(spark, sf())

  test("sniffed format always matches the declared magic header") {
    val media = Multimodal.realMediaTable(docs)
    val mismatches = media
      .filter(Multimodal.sniffFormat(col("payload")) =!= col("declared_format"))
      .count()
    assert(mismatches === 0)
    val formats = media.select("declared_format").distinct()
      .collect().map(_.getString(0)).toSet
    assert(formats === Set("png", "jpeg", "wav"))
  }

  test("frames reassemble exactly into the original payload") {
    val media = Multimodal.rawMediaTable(docs.filter(col("doc_id") < 10))
    val reassembled = Multimodal.frames(media, frameSize = 7)
      .groupBy("media_id")
      .agg(concat_ws("",
        sort_array(collect_list(struct(col("frame_idx"), hex(col("frame")).as("h"))))
          .getField("h")).as("hex_joined"))
    val joined = media.select(col("media_id"), hex(col("payload")).as("hex_payload"))
      .join(reassembled, "media_id")
    assert(joined.filter(col("hex_joined") =!= col("hex_payload")).count() === 0)
    // every frame but the last is exactly frameSize bytes
    val shortMid = Multimodal.frames(media, 7)
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("media_id")))
      .filter(col("frame_idx") < col("n") - 1 && length(col("frame")) =!= 7)
    assert(shortMid.count() === 0)
  }

  test("header metadata parses back to the planted dimensions for every row") {
    // real files now: the parse must recover each MediaSynth builder's
    // planted geometry (png 4+id%7 × 4+id%5, jpeg 8(1+id%3) × 8(1+id%2),
    // wav mono at the id%4 rate table)
    val media = Multimodal.realMediaTable(docs)
      .withColumn("doc_id", col("media_id"))
    val png = media.filter(col("declared_format") === "png")
      .select(Multimodal.pngDimensions(col("payload")).as("d"), col("doc_id"))
    assert(png.filter(col("d.width") =!= lit(4) + pmod(col("doc_id"), lit(7))
      || col("d.height") =!= lit(4) + pmod(col("doc_id"), lit(5))).count() === 0)
    assert(png.filter(col("d").isNull).count() === 0)
    // the jpeg third mixes baseline / progressive / 4:2:0-color builders
    // (round 15), so the planted geometry depends on the sub-flavor
    val jpg = media.filter(col("declared_format") === "jpeg")
      .select(Multimodal.jpegDimensions(col("payload")).as("d"), col("doc_id"))
    val jw = when(pmod(col("doc_id"), lit(9)) === 7,
      lit(16) * (lit(1) + pmod(col("doc_id"), lit(2))))
      .otherwise(lit(8) * (lit(1) + pmod(col("doc_id"), lit(3))))
    val jh = when(pmod(col("doc_id"), lit(9)) === 7,
      lit(16) * (lit(1) + pmod(col("doc_id"), lit(3))))
      .otherwise(lit(8) * (lit(1) + pmod(col("doc_id"), lit(2))))
    assert(jpg.filter(col("d.width") =!= jw || col("d.height") =!= jh).count() === 0)
    assert(jpg.filter(col("d").isNull).count() === 0)
    // progressive rows: grayscale at doc_id ≡ 4 (mod 9), plus — round 16 —
    // the color-progressive half of the 4:2:0 rows (doc_id ≡ 7 mod 9,
    // driHalf split)
    val progExpected = (pmod(col("doc_id"), lit(9)) === 4) ||
      (pmod(col("doc_id"), lit(9)) === 7 &&
        pmod(floor(col("doc_id") / lit(9)).cast("long"), lit(2)) === 0)
    assert(jpg.filter(col("d.progressive") =!= progExpected).count() === 0)
    val wav = media.filter(col("declared_format") === "wav")
      .select(Multimodal.wavInfo(col("payload")).as("d"), col("doc_id"))
    assert(wav.filter(col("d.channels") =!= lit(1)).count() === 0)
    val rate = when(pmod(col("doc_id"), lit(4)) === 0, 8000L)
      .when(pmod(col("doc_id"), lit(4)) === 1, 16000L)
      .when(pmod(col("doc_id"), lit(4)) === 2, 22050L).otherwise(44100L)
    assert(wav.filter(col("d.sample_rate") =!= rate).count() === 0)
  }

  test("jpeg segment walk finds SOF behind extra segments; junk input reads null") {
    import spark.implicits._
    def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    // a denser header than mediaTable's: SOI, APP0, APP1 (Exif-ish), COM,
    // DQT, then SOF0 at the 5th hop with height=300 width=500
    val sof = bytes(0xFF, 0xC0, 0x00, 0x11, 0x08, 0x01, 0x2C, 0x01, 0xF4,
      0x03, 0x01, 0x22, 0x00, 0x02, 0x11, 0x01, 0x03, 0x11, 0x01)
    def seg(marker: Int, payloadLen: Int): Array[Byte] =
      bytes(0xFF, marker, (payloadLen + 2) >> 8, (payloadLen + 2) & 0xFF) ++
        Array.fill(payloadLen)(0x42.toByte)
    val realistic = bytes(0xFF, 0xD8) ++ seg(0xE0, 14) ++ seg(0xE1, 60) ++
      seg(0xFE, 9) ++ seg(0xDB, 65) ++ sof ++ bytes(1, 2, 3)
    val junk = "not an image at all".getBytes
    val truncated = bytes(0xFF, 0xD8, 0xFF) // SOI then garbage
    val df = Seq((1L, realistic), (2L, junk), (3L, truncated)).toDF("id", "p")
      .select(col("id"), Multimodal.jpegDimensions(col("p")).as("d"))
    val byId = df.collect().map(r => r.getLong(0) -> Option(r.getStruct(1))).toMap
    assert(byId(1L).map(s => (s.getInt(0), s.getInt(1))).contains((500, 300)))
    assert(byId(2L).isEmpty, "non-JPEG bytes must read as null dimensions")
    assert(byId(3L).forall(s => s.isNullAt(0) && s.isNullAt(1)),
      "truncated stream must not invent dimensions")
    // PNG/WAV parsers reject junk the same way
    val other = Seq((1L, junk)).toDF("id", "p")
      .select(Multimodal.pngDimensions(col("p")).as("png"),
        Multimodal.wavInfo(col("p")).as("wav")).head()
    assert(other.isNullAt(0) && other.isNullAt(1))
  }

  test("progressive JPEG (SOF2) detected with dimensions; header-only color SOF2 stays null") {
    import spark.implicits._
    def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    def seg(marker: Int, payloadLen: Int): Array[Byte] =
      bytes(0xFF, marker, (payloadLen + 2) >> 8, (payloadLen + 2) & 0xFF) ++
        Array.fill(payloadLen)(0x42.toByte)
    // minimal progressive header: SOI, DQT, SOF2 (3 components, 120×240),
    // then junk bytes and NO SOS — real web corpora are majority-
    // progressive. Color progressive decodes for REAL since round 16 (see
    // the multi-component tests below); this pin covers detection plus
    // the header-failure contract: a scanless SOF2 stream nulls the whole
    // row, never throws or invents sums.
    val sof2 = bytes(0xFF, 0xC2, 0x00, 0x11, 0x08, 0x00, 0x78, 0x00, 0xF0,
      0x03, 0x01, 0x22, 0x00, 0x02, 0x11, 0x01, 0x03, 0x11, 0x01)
    val prog = bytes(0xFF, 0xD8) ++ seg(0xDB, 65) ++ sof2 ++ bytes(9, 9, 9)
    // baseline sibling (SOF0) for the negative flag
    val sof0 = sof2.updated(1, 0xC0.toByte)
    val base = bytes(0xFF, 0xD8) ++ seg(0xDB, 65) ++ sof0 ++ bytes(9, 9, 9)
    val df = Seq((1L, prog), (2L, base)).toDF("id", "p")
      .select(col("id"), Multimodal.jpegDimensions(col("p")).as("d"))
    val byId = df.collect().map(r => r.getLong(0) -> r.getStruct(1)).toMap
    assert(byId(1L).getInt(0) === 240 && byId(1L).getInt(1) === 120)
    assert(byId(1L).getBoolean(2) === true, "SOF2 must flag progressive")
    assert(byId(2L).getBoolean(2) === false, "SOF0 must flag baseline")
    val dec = Seq((1L, prog)).toDF("id", "p")
      .select(graft.functions.JpegFunctions.jpegColorStats(col("p")).as("s"))
      .head()
    assert(dec.isNullAt(0) || dec.getStruct(0).isNullAt(0),
      "a scanless progressive stream must stay null")
  }

  test("PCM16 decode agrees with a JVM ByteBuffer decode of the same bytes") {
    val subset = docs.filter(col("doc_id") < 40)
    val byId = Multimodal.audioTable(subset)
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    // independent reference decode: java.nio, not Catalyst
    def jvmDecode(p: Array[Byte]): Seq[Int] = {
      val bb = java.nio.ByteBuffer.wrap(p).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      assert(new String(p.slice(0, 4), "US-ASCII") === "RIFF")
      assert(bb.getShort(20) === 1 && bb.getShort(34) === 16) // PCM, 16-bit
      val dataLen = bb.getInt(40)
      assert(dataLen === p.length - 44, "data-chunk length must be real")
      assert(bb.getInt(4) === p.length - 8, "RIFF size must be real")
      (0 until dataLen / 2).map(i => bb.getShort(44 + 2 * i).toInt)
    }
    val decoded = graft.SparkEntry.queries("q_mm_audio")(spark, sf())
      .filter(col("media_id") < 40).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(decoded.size === byId.size)
    byId.foreach { case (id, payload) =>
      val s = jvmDecode(payload)
      val row = decoded(id)
      assert(row.getLong(3) === s.size.toLong, s"n_samples for $id")
      assert(row.getLong(4) === s.map(v => math.abs(v)).max.toLong, s"peak for $id")
      assert(row.getLong(5) === s.map(v => v.toLong * v).sum, s"sum_sq for $id")
      val zc = s.sliding(2).count(w => (w(0) < 0) != (w(1) < 0))
      assert(row.getLong(6) === zc.toLong, s"zero_crossings for $id")
    }
    // the waveform is non-trivial: signs actually alternate somewhere
    assert(byId.keys.exists(id => decoded(id).getLong(6) > 0))
  }

  test("BMP pixel decode agrees with a JVM reference decode of the same bytes") {
    val subset = docs.filter(col("doc_id") < 40)
    val byId = Multimodal.imageTable(subset)
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    // independent reference decode: java.nio over the BMP layout
    def jvmDecode(p: Array[Byte]): (Int, Int, IndexedSeq[(Int, Int, Int)]) = {
      val bb = java.nio.ByteBuffer.wrap(p).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      assert(p(0) === 'B'.toByte && p(1) === 'M'.toByte)
      assert(bb.getInt(2) === p.length, "file size field must be real")
      val off = bb.getInt(10)
      val w = bb.getInt(18)
      val h = bb.getInt(22)
      assert(bb.getShort(28) === 24 && bb.getInt(30) === 0)
      val stride = (w * 3 + 3) & ~3
      assert(p.length === off + stride * h, "pixel array must fill the file")
      val pix = for (y <- 0 until h; x <- 0 until w) yield {
        val base = off + (h - 1 - y) * stride + x * 3
        def u(i: Int) = p(i) & 0xFF
        (u(base + 2), u(base + 1), u(base)) // (r, g, b)
      }
      (w, h, pix)
    }
    val decoded = graft.SparkEntry.queries("q_mm_pixels")(spark, sf())
      .filter(col("media_id") < 40).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(decoded.size === byId.size)
    byId.foreach { case (id, payload) =>
      val (w, h, pix) = jvmDecode(payload)
      val row = decoded(id)
      assert(row.getInt(1) === w && row.getInt(2) === h, s"dims for $id")
      assert(row.getLong(3) === (w * h).toLong, s"n_pixels for $id")
      assert(row.getLong(4) === pix.map(_._1.toLong).sum, s"sum_r for $id")
      assert(row.getLong(5) === pix.map(_._2.toLong).sum, s"sum_g for $id")
      assert(row.getLong(6) === pix.map(_._3.toLong).sum, s"sum_b for $id")
      val wsum = pix.zipWithIndex.map { case ((r, _, _), i) => (i + 1L) * r }.sum
      assert(row.getLong(7) === wsum, s"wsum_r for $id")
    }
    // rows genuinely carry padding somewhere, so stride handling is exercised
    assert(byId.exists { case (id, _) => ((4 + id % 8) * 3) % 4 != 0 })
  }

  test("stored-deflate PNGs decode under javax.imageio — the files are spec-valid") {
    val subset = docs.filter(col("doc_id") < 40)
    val byId = Multimodal.pngTable(subset)
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    val decoded = graft.SparkEntry.queries("q_mm_png_pixels")(spark, sf())
      .filter(col("media_id") < 40).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(decoded.size === byId.size)
    byId.foreach { case (id, payload) =>
      // the independent decoder: the JDK's real PNG reader (full zlib
      // inflate + CRC checks) — if any length, checksum, or complement in
      // the synthesis were wrong, ImageIO would reject or mis-decode
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      assert(img != null, s"ImageIO rejected PNG $id")
      val (w, h) = (img.getWidth, img.getHeight)
      val pix = for (y <- 0 until h; x <- 0 until w) yield {
        val rgb = img.getRGB(x, y)
        ((rgb >> 16) & 0xFF, (rgb >> 8) & 0xFF, rgb & 0xFF)
      }
      val row = decoded(id)
      assert(row.getInt(1) === w && row.getInt(2) === h, s"dims for $id")
      assert(row.getLong(3) === (w * h).toLong, s"n_pixels for $id")
      assert(row.getLong(4) === pix.map(_._1.toLong).sum, s"sum_r for $id")
      assert(row.getLong(5) === pix.map(_._2.toLong).sum, s"sum_g for $id")
      assert(row.getLong(6) === pix.map(_._3.toLong).sum, s"sum_b for $id")
      val wsum = pix.zipWithIndex.map { case ((r, _, _), i) => (i + 1L) * r }.sum
      assert(row.getLong(7) === wsum, s"wsum_r for $id")
      assert(row.getBoolean(8), s"ihdr_crc_ok for $id")
      assert(row.getBoolean(9), s"adler_ok for $id")
      assert(row.getLong(10) === 0L, s"filter_violations for $id")
    }
  }

  test("fixed-Huffman PNGs decode under javax.imageio — the files are spec-valid") {
    val subset = docs.filter(col("doc_id") < 40)
    val byId = Multimodal.pngFixedTable(subset)
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    val decoded = graft.SparkEntry.queries("q_mm_png_pixels_fh")(spark, sf())
      .filter(col("media_id") < 40).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(decoded.size === byId.size)
    byId.foreach { case (id, payload) =>
      // the JDK's PNG reader runs a REAL inflater: if the hand-rolled
      // fixed-Huffman encoding (codes, extra bits, back-references, bit
      // packing) were wrong anywhere, ImageIO would reject or mis-decode
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      assert(img != null, s"ImageIO rejected fixed-Huffman PNG $id")
      val (w, h) = (img.getWidth, img.getHeight)
      val pix = for (y <- 0 until h; x <- 0 until w) yield {
        val rgb = img.getRGB(x, y)
        ((rgb >> 16) & 0xFF, (rgb >> 8) & 0xFF, rgb & 0xFF)
      }
      val row = decoded(id)
      assert(row.getInt(1) === w && row.getInt(2) === h, s"dims for $id")
      assert(row.getLong(4) === pix.map(_._1.toLong).sum, s"sum_r for $id")
      assert(row.getLong(5) === pix.map(_._2.toLong).sum, s"sum_g for $id")
      assert(row.getLong(6) === pix.map(_._3.toLong).sum, s"sum_b for $id")
      val wsum = pix.zipWithIndex.map { case ((r, _, _), i) => (i + 1L) * r }.sum
      assert(row.getLong(7) === wsum, s"wsum_r for $id")
      assert(row.getBoolean(8) && row.getBoolean(9), s"integrity for $id")
      assert(row.getLong(10) === 0L, s"filter_violations for $id")
      // odd rows really are planted repeats (what the back-references copy)
      for (y <- 1 until h by 2; x <- 0 until w)
        assert(img.getRGB(x, y) === img.getRGB(x, y - 1), s"row repeat $id ($x,$y)")
    }
  }

  test("dynamic-Huffman PNGs (real zlib output) decode under javax.imageio and the kernel") {
    val subset = docs.filter(col("doc_id") < 40)
    val byId = Multimodal.pngDynamicTable(subset)
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    val decoded = graft.SparkEntry.queries("q_mm_png_pixels_dyn")(spark, sf())
      .filter(col("media_id") < 40).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(decoded.size === byId.size)
    // the fixtures genuinely exercise BTYPE=10: java.util.zip picks the
    // dynamic table for the skewed 64-value histograms (first deflate byte
    // at offset 43, BFINAL=1|BTYPE=10 -> low 3 bits 0b101)
    // (block choice is the encoder's: on the very smallest images zlib may
    // still prefer a fixed/stored block — the kernel decodes those too)
    val dynCount = byId.values.count(p => (p(43) & 0x07) == 0x05)
    assert(dynCount * 10 >= byId.size * 9,
      s"only $dynCount/${byId.size} fixtures start with a dynamic block")
    byId.foreach { case (id, payload) =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      assert(img != null, s"ImageIO rejected dynamic-Huffman PNG $id")
      val (w, h) = (img.getWidth, img.getHeight)
      val pix = for (y <- 0 until h; x <- 0 until w) yield {
        val rgb = img.getRGB(x, y)
        ((rgb >> 16) & 0xFF, (rgb >> 8) & 0xFF, rgb & 0xFF)
      }
      val row = decoded(id)
      assert(row.getInt(1) === w && row.getInt(2) === h, s"dims for $id")
      assert(row.getLong(4) === pix.map(_._1.toLong).sum, s"sum_r for $id")
      assert(row.getLong(5) === pix.map(_._2.toLong).sum, s"sum_g for $id")
      assert(row.getLong(6) === pix.map(_._3.toLong).sum, s"sum_b for $id")
      assert(row.getBoolean(8) && row.getBoolean(9), s"integrity for $id")
      assert(row.getLong(10) === 0L, s"filter_violations for $id")
    }
    // corruption: a flipped byte inside the dynamic block's Huffman data
    // must fire adler_ok (derailed decode or drifted bytes — never silent)
    val sample = byId.head._2.clone()
    sample(52) = (sample(52) ^ 0x5A).toByte
    import spark.implicits._
    val bad = Multimodal.decodePng(Seq((0L, sample)).toDF("media_id", "payload"))
      .collect().head
    assert(!bad.getBoolean(9), "adler_ok must catch a dynamic-stream flip")
  }

  test("baseline JPEGs decode under javax.imageio byte-identically to the kernel") {
    val subset = docs.filter(col("doc_id") < 40)
    val byId = Multimodal.jpegTable(subset)
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    val decoded = graft.SparkEntry.queries("q_mm_jpeg_pixels")(spark, sf())
      .filter(col("media_id") < 40).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(decoded.size === byId.size)
    byId.foreach { case (id, payload) =>
      // the JDK's real JPEG reader (full entropy decode + its own IDCT):
      // DC-only blocks are the corner every conforming decoder must
      // reconstruct EXACTLY, so the sums match bit-for-bit, not ±1
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      assert(img != null, s"ImageIO rejected JPEG $id")
      val (w, h) = (img.getWidth, img.getHeight)
      val raster = img.getRaster
      val pix = for (y <- 0 until h; x <- 0 until w) yield raster.getSample(x, y, 0)
      val row = decoded(id)
      assert(row.getInt(1) === w && row.getInt(2) === h, s"dims for $id")
      assert(row.getLong(5) === pix.map(_.toLong).sum, s"sum_luma for $id")
      val wsum = pix.zipWithIndex.map { case (v, i) => (i + 1L) * v }.sum
      assert(row.getLong(6) === wsum, s"wsum_luma for $id")
      assert(row.getLong(7) === 0L, s"fixtures are DC-only for $id")
    }
    // corruption: a flipped bit inside the entropy data shifts a DC
    // category or magnitude — decoded sums must drift or the stream must
    // derail (null sums); geometry still parses from SOF
    import spark.implicits._
    val sample = byId(3L)
    val goodSum = decoded(3L).getLong(5)
    val bad = sample.clone()
    bad(bad.length - 4) = (bad(bad.length - 4) ^ 0x40).toByte
    val badRow = Seq((3L, bad)).toDF("media_id", "payload")
      .select(graft.functions.JpegFunctions.jpegStats(col("payload")).as("st"))
      .select("st.w", "st.sum_luma").collect().head
    assert(badRow.getInt(0) > 0, "geometry still parses")
    assert(badRow.isNullAt(1) || badRow.getLong(1) != goodSum,
      "an entropy-stream flip cannot decode to the same sums")
    // hostile inputs never throw
    for (junk <- Seq(Array.empty[Byte], Array[Byte](0xFF.toByte, 0xD8.toByte),
      Array.fill(64)(0xFF.toByte), sample.take(20))) {
      assert(graft.functions.JpegDecode.jpeg(junk) != null)
    }
  }

  test("restart-interval JPEGs: pixel-identical to no-DRI twins, ImageIO parity, strict RSTm") {
    import spark.implicits._
    // baseline + DRI(Ri=1): same planted DC field as jpeg(id), so decoded
    // sums must be BIT-EQUAL to the plain twin's — the restart machinery
    // (byte-align, marker verify, predictor reset) must be transparent
    for (id <- 0L until 24L) {
      val dri = MediaSynth.jpegRestart(id)
      val plain = MediaSynth.jpeg(id)
      assert(!java.util.Arrays.equals(dri, plain),
        s"DRI twin must differ in bytes for $id (DRI segment at least)")
      val a = graft.functions.JpegDecode.jpeg(dri)
      val b = graft.functions.JpegDecode.jpeg(plain)
      assert(!a.isNullAt(3), s"DRI baseline must decode for $id")
      assert(a.getLong(3) === b.getLong(3), s"sum_luma DRI-vs-plain for $id")
      assert(a.getLong(4) === b.getLong(4), s"wsum_luma DRI-vs-plain for $id")
      // the files stay real JPEGs: the JDK's reader accepts the restart
      // framing and reconstructs the same DC-exact pixels
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(dri))
      assert(img != null, s"ImageIO rejected DRI JPEG $id")
      val pix = for (y <- 0 until img.getHeight; x <- 0 until img.getWidth)
        yield img.getRaster.getSample(x, y, 0).toLong
      assert(a.getLong(3) === pix.sum, s"ImageIO sum parity for DRI $id")
    }
    // progressive + DRI(Ri=2): per-scan restart numbering, EOB runs end at
    // boundaries; sums bit-equal to the plain progressive twin
    for (id <- Seq(1L, 4L, 5L, 13L, 22L)) { // 4/4/6/4/2 data units: with
      // Ri=2 the first four fire restarts, 22 carries DRI but no marker
      val dri = MediaSynth.jpegProgressiveRestart(id)
      val plain = MediaSynth.jpegProgressive(id)
      assert(!java.util.Arrays.equals(dri, plain))
      val a = graft.functions.JpegDecode.jpeg(dri)
      val b = graft.functions.JpegDecode.jpeg(plain)
      assert(!a.isNullAt(3), s"DRI progressive must decode for $id")
      assert(a.getLong(3) === b.getLong(3), s"progressive sum for $id")
      assert(a.getLong(4) === b.getLong(4), s"progressive wsum for $id")
    }
    // strict marker discipline: misnumbering the first RSTm (D0 -> D1)
    // nulls the sums — a skipped/renumbered restart is a corrupt stream
    val f = MediaSynth.jpegRestart(1L) // 4 MCUs, Ri=1: markers D0 D1 D2
    val at = (0 until f.length - 1).find(i =>
      (f(i) & 0xFF) == 0xFF && (f(i + 1) & 0xFF) == 0xD0)
    assert(at.isDefined, "fixture must carry an RST0 marker")
    val bad = f.clone()
    bad(at.get + 1) = 0xD1.toByte
    val badRow = graft.functions.JpegDecode.jpeg(bad)
    assert(badRow.getInt(0) > 0, "geometry still parses")
    assert(badRow.isNullAt(3), "a misnumbered restart must null the sums")
    // and the embedding path rides the same driver: DRI rows embed
    // identically to their plain twins
    val eDri = graft.functions.JpegDecode.embedGray(MediaSynth.jpegRestart(7L))
    val ePlain = graft.functions.JpegDecode.embedGray(MediaSynth.jpeg(7L))
    assert(eDri != null && (eDri sameElements ePlain),
      "grid embedding must be identical through restart framing")
  }

  test("AC-refinement ZRL consumes sixteen zero-history slots (G.1.2.3)") {
    // review-found bug pin: the refinement decoder stopped AT the 16th
    // zero-history slot of a ZRL instead of consuming it (libjpeg's outer
    // k++), desynchronizing every later symbol of the block. Fixtures
    // never emitted refinement-ZRL (their run is always 9), so this
    // hand-assembled pair does: ONE 8x8 block whose only AC coefficient
    // (+1 at zig-zag 30) arrives in the AC-REFINEMENT scan behind 29
    // zero-history positions — encoded as ZRL + run13/size1 — against a
    // BASELINE encoding of the identical coefficient plane. Same plane,
    // same IDCT: the sums must be bit-equal.
    val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
    def b(xs: Int*): Unit = xs.foreach(x => buf += x.toByte)
    var cur = 0; var nb = 0
    def putBits(v: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        cur = (cur << 1) | ((v >> i) & 1); nb += 1
        if (nb == 8) { buf += cur.toByte; if (cur == 0xFF) buf += 0x00.toByte; cur = 0; nb = 0 }
        i -= 1
      }
    }
    def flush(): Unit = if (nb > 0) {
      cur = (cur << (8 - nb)) | ((1 << (8 - nb)) - 1)
      buf += cur.toByte; if (cur == 0xFF) buf += 0x00.toByte
      cur = 0; nb = 0
    }
    // shared header: DQT(Q=8), DHTs — DC table: vals 0..4 at length 3
    // (codes 000..100); AC table: EOB='0', ZRL='10', run13/size1='11'
    def header(sofMarker: Int): Unit = {
      b(0xFF, 0xD8)
      b(0xFF, 0xDB, 0, 67, 0x00); (0 until 64).foreach(_ => buf += 8.toByte)
      b(0xFF, sofMarker, 0, 11, 8, 0, 8, 0, 8, 1, 1, 0x11, 0)
      b(0xFF, 0xC4, 0, 24, 0x00) // DC: bits
      b(0, 0, 5); (4 to 16).foreach(_ => b(0)); b(0, 1, 2, 3, 4)
      // AC: EOB='0', ZRL='10', run13/size1='110' — the all-ones code of
      // each length stays free (libjpeg rejects full code space)
      b(0xFF, 0xC4, 0, 22, 0x10)
      b(1, 1, 1); (4 to 16).foreach(_ => b(0)); b(0x00, 0xF0, 0xD1)
    }
    def dcCode(cat: Int): Unit = putBits(cat, 3) // canonical: cat == code
    // ---- progressive: DC first (Al=1, D=10 -> 5, cat 3), AC first (all
    // zero at Al=1: EOB0), DC refine (bit 0), AC refine (ZRL + run13/size1
    // + sign, then EOB0)
    header(0xC2)
    b(0xFF, 0xDA, 0, 8, 1, 1, 0x00, 0, 0, 0x01) // DC first, Al=1
    dcCode(3); putBits(5, 3); flush()
    b(0xFF, 0xDA, 0, 8, 1, 1, 0x00, 1, 63, 0x01) // AC first, Al=1
    putBits(0, 1); flush() // EOB0
    b(0xFF, 0xDA, 0, 8, 1, 1, 0x00, 0, 0, 0x10) // DC refine
    putBits(0, 1); flush()
    b(0xFF, 0xDA, 0, 8, 1, 1, 0x00, 1, 63, 0x10) // AC refine
    putBits(2, 2) // ZRL '10': sixteen zero-history slots (zz 1..16)
    putBits(6, 3) // run13/size1 '110': zz 17..29 zero, insert at 30
    putBits(1, 1) // sign: positive
    putBits(0, 1) // EOB0 for the 31..63 tail
    flush()
    b(0xFF, 0xD9)
    val progressive = buf.toArray
    // ---- baseline twin: DC=10 (cat 4), ZRL + run13/size1(+1) + EOB
    buf.clear()
    header(0xC0)
    b(0xFF, 0xDA, 0, 8, 1, 1, 0x00, 0, 63, 0)
    dcCode(4); putBits(10, 4)
    putBits(2, 2); putBits(6, 3); putBits(1, 1) // ZRL, run13/size1, +1
    putBits(0, 1) // EOB
    flush()
    b(0xFF, 0xD9)
    val baseline = buf.toArray
    val pr = graft.functions.JpegDecode.jpeg(progressive)
    val br = graft.functions.JpegDecode.jpeg(baseline)
    assert(!br.isNullAt(3), "baseline twin must decode")
    assert(!pr.isNullAt(3), "refinement-ZRL progressive must decode")
    assert(pr.getLong(3) === br.getLong(3), "sum_luma: same plane, same IDCT")
    assert(pr.getLong(4) === br.getLong(4), "wsum_luma parity")
    assert(pr.getLong(5) === 1L && br.getLong(5) === 1L, "one AC coefficient")
    // both are spec-true files: the JDK reader accepts them
    for (f <- Seq(progressive, baseline))
      assert(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(f)) != null)
  }

  test("inter-scan DQT redefinition dequantizes with the FIRST-scan table (libjpeg latch)") {
    // advice r16 #2: libjpeg (jdinput.c latch_quant_tables) binds each
    // component's dequant table ONCE, at the first scan containing it —
    // a DQT redefined between scans must not change the emitted pixels.
    // Fixture: one 8×8 progressive block, DC=5 coded under an all-8 DQT,
    // then the DQT redefined to all-16 before the (empty) AC scan.
    val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
    def b(xs: Int*): Unit = xs.foreach(x => buf += x.toByte)
    var cur = 0; var nb = 0
    def putBits(v: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        cur = (cur << 1) | ((v >> i) & 1); nb += 1
        if (nb == 8) { buf += cur.toByte; if (cur == 0xFF) buf += 0x00.toByte; cur = 0; nb = 0 }
        i -= 1
      }
    }
    def flush(): Unit = if (nb > 0) {
      cur = (cur << (8 - nb)) | ((1 << (8 - nb)) - 1)
      buf += cur.toByte; if (cur == 0xFF) buf += 0x00.toByte
      cur = 0; nb = 0
    }
    def build(firstQ: Int, redefineQ: Option[Int]): Array[Byte] = {
      buf.clear(); cur = 0; nb = 0
      b(0xFF, 0xD8)
      b(0xFF, 0xDB, 0, 67, 0x00); (0 until 64).foreach(_ => buf += firstQ.toByte)
      b(0xFF, 0xC2, 0, 11, 8, 0, 8, 0, 8, 1, 1, 0x11, 0)
      b(0xFF, 0xC4, 0, 24, 0x00) // DC: vals 0..4 at length 3
      b(0, 0, 5); (4 to 16).foreach(_ => b(0)); b(0, 1, 2, 3, 4)
      b(0xFF, 0xC4, 0, 22, 0x10) // AC: EOB='0', ZRL='10', run13/size1='110'
      b(1, 1, 1); (4 to 16).foreach(_ => b(0)); b(0x00, 0xF0, 0xD1)
      b(0xFF, 0xDA, 0, 8, 1, 1, 0x00, 0, 0, 0x00) // DC first, Al=0
      putBits(3, 3); putBits(5, 3); flush() // cat 3, value +5
      redefineQ.foreach { q =>
        b(0xFF, 0xDB, 0, 67, 0x00); (0 until 64).foreach(_ => buf += q.toByte)
      }
      b(0xFF, 0xDA, 0, 8, 1, 1, 0x00, 1, 63, 0x00) // AC first: all zero
      putBits(0, 1); flush() // EOB0
      b(0xFF, 0xD9)
      buf.toArray
    }
    val redefined = build(8, Some(16))
    val latchedTwin = build(8, None) // what first-scan latching must yield
    val lastDqtTwin = build(16, None) // what last-DQT dequant would yield
    val rows = Seq(redefined, latchedTwin, lastDqtTwin)
      .map(graft.functions.JpegDecode.jpeg)
    rows.foreach(r => assert(!r.isNullAt(3), "all three fixtures must decode"))
    assert(rows(0).getLong(3) === rows(1).getLong(3),
      "redefined-DQT stream must dequantize with the FIRST-scan table")
    assert(rows(1).getLong(3) !== rows(2).getLong(3),
      "the two tables must actually disagree — else this test proves nothing")
    // ImageIO (IJG-derived, the latch behavior we claim) is ground truth
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(redefined))
    assert(img != null, "ImageIO rejected the DQT-redefined progressive stream")
    // raster samples, not getRGB: TYPE_BYTE_GRAY getRGB runs a linear→sRGB
    // gamma conversion that has nothing to do with the decoded bytes
    var ioSum = 0L
    for (y <- 0 until 8; x <- 0 until 8) ioSum += img.getRaster.getSample(x, y, 0)
    assert(rows(0).getLong(3) === ioSum, "ImageIO parity on the redefined stream")
  }

  test("plausibility guard reports geometry with null sums on BOTH progressive tiers") {
    // advice r16 #3: the gray tier whole-row-nulled on implausible
    // header-declared dims while color reported geometry. One contract
    // now (see GrayOut's scaladoc): the header parsed, so geometry
    // reports and sums null — symmetric across tiers.
    def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val dqt = bytes(0xFF, 0xDB, 0, 67, 0x00) ++ Array.fill(64)(8.toByte)
    val dht = bytes(0xFF, 0xC4, 0, 24, 0x00, 0, 0, 5) ++
      Array.fill(13)(0.toByte) ++ bytes(0, 1, 2, 3, 4)
    // gray: SOF2 4096×4096 (under the dim cap) with 2 entropy bytes —
    // 512×512 blocks can never be coded by 2 bytes
    val gray = bytes(0xFF, 0xD8) ++ dqt ++
      bytes(0xFF, 0xC2, 0, 11, 8, 0x10, 0, 0x10, 0, 1, 1, 0x11, 0) ++ dht ++
      bytes(0xFF, 0xDA, 0, 8, 1, 1, 0x00, 0, 0, 0x00, 0xAB, 0xCD) ++
      bytes(0xFF, 0xD9)
    val grow = graft.functions.JpegDecode.jpeg(gray)
    assert(!grow.isNullAt(0) && grow.getInt(0) === 4096 && grow.getInt(1) === 4096,
      "gray guard must report the parsed geometry")
    assert(grow.isNullAt(3) && grow.isNullAt(4) && grow.isNullAt(5),
      "gray guard must null the sums")
    // color: SOF2 3-component 4:4:4 at the same dims — same contract
    val color = bytes(0xFF, 0xD8) ++ dqt ++
      bytes(0xFF, 0xC2, 0, 17, 8, 0x10, 0, 0x10, 0, 3,
        1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0) ++ dht ++
      bytes(0xFF, 0xDA, 0, 12, 3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 0, 0x00,
        0xAB, 0xCD) ++
      bytes(0xFF, 0xD9)
    val crow = graft.functions.JpegDecode.jpegColor(color)
    assert(!crow.isNullAt(0) && crow.getInt(0) === 4096 && crow.getInt(1) === 4096,
      "color guard must report the parsed geometry")
    assert(crow.isNullAt(3) && crow.isNullAt(6),
      "color guard must null the sums")
  }

  test("JPEG AC layer: ±1 coefficients decode within the T.81 IDCT tolerance") {
    for (id <- 0L until 12L) {
      val payload = MediaSynth.jpeg(id, withAc = true)
      val st = graft.functions.JpegDecode.jpeg(payload)
      assert(!st.isNullAt(3), s"AC fixture $id must decode")
      val (w, h) = (st.getInt(0), st.getInt(1))
      // the AC run-length layer really fired: one coefficient per block
      assert(st.getLong(5) === st.getLong(2), s"n_ac == n_blocks for $id")
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      assert(img != null, s"ImageIO rejected AC JPEG $id")
      val raster = img.getRaster
      val refSum = (for (y <- 0 until h; x <- 0 until w)
        yield raster.getSample(x, y, 0).toLong).sum
      // T.81 mandates no bit-exact IDCT: conforming decoders may differ by
      // ±1 per pixel on AC-bearing blocks — bound the sum accordingly
      assert(math.abs(st.getLong(3) - refSum) <= w.toLong * h,
        s"AC sum drift beyond IDCT tolerance for $id: ${st.getLong(3)} vs $refSum")
    }
  }

  test("AC-exact JPEG: kernel equals the planted integer formula; entropy flips derail") {
    // zig-zag-10 fixtures: reconstruction is the integer 128+dc+ac·s(y)
    // (MediaSynth.jpegAc), so the kernel must match the formula EXACTLY —
    // this is the deep check behind the q_mm_jpeg_pixels_ac oracle row
    def s4(y: Int): Long = if (y % 4 == 0 || y % 4 == 3) 1L else -1L
    for (id <- 0L until 12L) {
      val payload = MediaSynth.jpegAc(id)
      val st = graft.functions.JpegDecode.jpeg(payload)
      assert(!st.isNullAt(3), s"AC-exact fixture $id must decode")
      val (w, h) = (st.getInt(0), st.getInt(1))
      def ac(bx: Long, by: Long): Long = {
        val m = 1L + (id + bx + by) % 3
        if ((id + bx + by) % 2 == 0) m else -m
      }
      val vals = for (y <- 0 until h; x <- 0 until w)
        yield 48L + (id + 5L * (x / 8) + 11L * (y / 8)) % 160 + ac(x / 8, y / 8) * s4(y)
      assert(st.getLong(3) === vals.sum, s"sum_luma exact for $id")
      assert(st.getLong(4) ===
        vals.zipWithIndex.map { case (v, i) => (i + 1L) * v }.sum,
        s"wsum_luma exact for $id")
      assert(st.getLong(5) === st.getLong(2), s"one AC per block for $id")
      // the files stay real JPEGs: ImageIO accepts them (its IDCT is the
      // non-mandated tier, so parity is bounded, not bit-exact)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      assert(img != null, s"ImageIO rejected AC-exact JPEG $id")
      val raster = img.getRaster
      val refSum = (for (y <- 0 until h; x <- 0 until w)
        yield raster.getSample(x, y, 0).toLong).sum
      assert(math.abs(st.getLong(3) - refSum) <= w.toLong * h,
        s"AC-exact sum beyond IDCT tolerance for $id")
    }
    // corruption trigger: a flipped bit in the AC entropy region must
    // change the decoded sums or derail the stream — never silently agree
    val sample = MediaSynth.jpegAc(7L)
    val goodSum = graft.functions.JpegDecode.jpeg(sample).getLong(3)
    val bad = sample.clone()
    bad(bad.length - 4) = (bad(bad.length - 4) ^ 0x20).toByte
    val st = graft.functions.JpegDecode.jpeg(bad)
    assert(st.getInt(0) > 0, "geometry still parses")
    assert(st.isNullAt(3) || st.getLong(3) != goodSum,
      "an AC entropy flip cannot decode to the same sums")
  }

  test("fixed-Huffman decoder integrity checks fire on corrupted bytes") {
    import spark.implicits._
    val good = Multimodal.pngFixedTable(docs.filter(col("doc_id") === 3))
      .collect().head.getAs[Array[Byte]](1)
    def decodeOne(payload: Array[Byte]) =
      Multimodal.decodePng(Seq((3L, payload)).toDF("media_id", "payload"))
        .collect().head
    val clean = decodeOne(good)
    assert(clean.getBoolean(8) && clean.getBoolean(9) && clean.getLong(10) === 0L)
    // flip a byte of Huffman-coded data (deflate body starts at byte 43):
    // either the stream derails (wrong size → false) or decodes to
    // different bytes (adler mismatch → false) — never silently passes
    val flipData = good.clone()
    flipData(50) = (flipData(50) ^ 0x5A).toByte
    assert(!decodeOne(flipData).getBoolean(9), "adler_ok must catch a data flip")
    // the zlib adler trailer sits 20 bytes before the end (IEND 12 + CRC 4
    // + trailer 4), same layout as the stored fixture
    val flipTrailer = good.clone()
    flipTrailer(good.length - 20) = (flipTrailer(good.length - 20) ^ 0x5A).toByte
    assert(!decodeOne(flipTrailer).getBoolean(9), "adler_ok must catch a trailer flip")
    // IHDR width bit → header CRC fires
    val flipIhdr = good.clone()
    flipIhdr(18) = (flipIhdr(18) ^ 0x01).toByte
    assert(!decodeOne(flipIhdr).getBoolean(8), "ihdr_crc_ok must catch a header flip")
  }

  test("PNG decoder integrity checks actually fire on corrupted bytes") {
    import spark.implicits._
    val good = Multimodal.pngTable(docs.filter(col("doc_id") === 3))
      .collect().head.getAs[Array[Byte]](1)
    def decodeOne(payload: Array[Byte]) =
      Multimodal.decodePng(Seq((3L, payload)).toDF("media_id", "payload"))
        .collect().head
    // pristine payload: both integrity booleans true, zero violations
    val clean = decodeOne(good)
    assert(clean.getBoolean(8) && clean.getBoolean(9) && clean.getLong(10) === 0L)
    // flip a pixel byte inside the stored block → the recomputed adler32
    // over the corrupted scanlines must mismatch the stored trailer.
    // Offset 60 is raw-region byte 12 of doc 3 (w=7: j = 12 % 22 ≠ 0, so a
    // channel byte, not a filter byte) — an end-relative offset here would
    // land in the adler field itself and never exercise the fold
    val flipPixel = good.clone()
    flipPixel(60) = (flipPixel(60) ^ 0x5A).toByte
    assert(!decodeOne(flipPixel).getBoolean(9), "adler_ok must catch a payload flip")
    // and flipping the stored trailer itself must also fire
    val flipTrailer = good.clone()
    flipTrailer(good.length - 20) = (flipTrailer(good.length - 20) ^ 0x5A).toByte
    assert(!decodeOne(flipTrailer).getBoolean(9), "adler_ok must catch a trailer flip")
    // flip a bit of the IHDR width field → the IHDR CRC must mismatch
    val flipIhdr = good.clone()
    flipIhdr(18) = (flipIhdr(18) ^ 0x01).toByte
    assert(!decodeOne(flipIhdr).getBoolean(8), "ihdr_crc_ok must catch a header flip")
    // overwrite a filter byte with a nonzero type → violation counter fires
    // (first filter byte is the first raw byte of the stored block:
    // sig 8 + IHDR 25 + IDAT len/type 8 + zlib 2 + stored header 5 = byte 48)
    val badFilter = good.clone()
    badFilter(48) = 2
    assert(decodeOne(badFilter).getLong(10) > 0L, "filter violation must count")
  }

  test("color JPEG: kernel equals planted formulas and ImageIO RGB byte-for-byte") {
    def clamp(v: Long): Long = math.min(255L, math.max(0L, v))
    for (id <- 0L until 24L) {
      val payload = MediaSynth.jpegColor(id)
      val st = graft.functions.JpegDecode.jpegColor(payload)
      assert(!st.isNullAt(3), s"color fixture $id must decode")
      val (w, h) = (st.getInt(0), st.getInt(1))
      assert(w === 8 * (1 + id % 3) && h === 8 * (1 + id % 2), s"dims for $id")
      // planted per-block plane formulas + libjpeg fixed-point RGB — the
      // same integers the kernel and the DuckDB oracle compute
      var (sy, scb, scr, sr, sg, sb2, wr) = (0L, 0L, 0L, 0L, 0L, 0L, 0L)
      for (by <- 0 until h / 8; bx <- 0 until w / 8) {
        val y = 48L + (id + 5L * bx + 11L * by) % 160
        val cb = 78L + (3L * id + 7L * bx + 13L * by) % 100
        val cr = 78L + (5L * id + 3L * bx + 17L * by) % 100
        val r = clamp(y + ((91881L * (cr - 128) + 32768L) >> 16))
        val g = clamp(y + ((-22554L * (cb - 128) - 46802L * (cr - 128) + 32768L) >> 16))
        val b = clamp(y + ((116130L * (cb - 128) + 32768L) >> 16))
        sy += 64 * y; scb += 64 * cb; scr += 64 * cr
        sr += 64 * r; sg += 64 * g; sb2 += 64 * b
        wr += r * (64L * (8L * by * w + 8L * bx + 1) + 224L * w + 224L)
      }
      assert(st.getLong(3) === sy, s"sum_y for $id")
      assert(st.getLong(4) === scb, s"sum_cb for $id")
      assert(st.getLong(5) === scr, s"sum_cr for $id")
      assert(st.getLong(6) === sr, s"sum_r for $id")
      assert(st.getLong(7) === sg, s"sum_g for $id")
      assert(st.getLong(8) === sb2, s"sum_b for $id")
      assert(st.getLong(9) === wr, s"wsum_r for $id")
      assert(st.getLong(10) === 0L, s"fixtures are DC-only for $id")
      // the JDK's real reader: full multi-component entropy decode, its
      // own IDCT (exact on flat blocks) and libjpeg color conversion —
      // byte parity on every channel, not ±1
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      assert(img != null, s"ImageIO rejected color JPEG $id")
      assert(img.getWidth === w && img.getHeight === h)
      var (ir, ig, ib) = (0L, 0L, 0L)
      for (y <- 0 until h; x <- 0 until w) {
        val v = img.getRGB(x, y)
        ir += (v >> 16) & 0xFF; ig += (v >> 8) & 0xFF; ib += v & 0xFF
      }
      assert(ir === sr, s"ImageIO sum_r parity for $id")
      assert(ig === sg, s"ImageIO sum_g parity for $id")
      assert(ib === sb2, s"ImageIO sum_b parity for $id")
    }
  }

  test("4:2:0 JPEG: varying chroma — kernel equals fancy-upsampled formulas and ImageIO per PIXEL") {
    // r12 verdict #3: the chroma plane varies per MCU, so the upsampling
    // filter is load-bearing at every MCU boundary. The reference below
    // replays libjpeg's h2v2 fancy (triangular) filter with clamped
    // neighbors; ImageIO parity is checked per PIXEL, which pins the
    // kernel's upsampler byte-exactly against the real libjpeg.
    def clamp(v: Int): Int = math.min(255, math.max(0, v))
    for (id <- 0L until 24L) {
      val payload = MediaSynth.jpegColor420(id)
      val st = graft.functions.JpegDecode.jpegColor(payload)
      assert(!st.isNullAt(3), s"4:2:0 fixture $id must decode")
      val (w, h) = (st.getInt(0), st.getInt(1))
      assert(w === 16 * (1 + id % 2) && h === 16 * (1 + id % 3), s"dims for $id")
      assert(st.getLong(2) === (w / 16).toLong * (h / 16), s"MCU count for $id")
      val cw = w / 2; val ch = h / 2
      def yv(x: Int, y: Int) = 48 + ((id + 5L * (x / 8) + 11L * (y / 8)) % 160).toInt
      def cbP(i: Int, j: Int) = 78 + ((3L * id + 7L * (i / 8) + 13L * (j / 8)) % 100).toInt
      def crP(i: Int, j: Int) = 78 + ((5L * id + 3L * (i / 8) + 17L * (j / 8)) % 100).toInt
      def fancy(p: (Int, Int) => Int, x: Int, y: Int): Int = {
        val i = x >> 1; val j = y >> 1
        val jn = if ((y & 1) == 0) math.max(j - 1, 0) else math.min(j + 1, ch - 1)
        val in = if ((x & 1) == 0) math.max(i - 1, 0) else math.min(i + 1, cw - 1)
        val ti = 3 * p(i, j) + p(i, jn)
        val tn = 3 * p(in, j) + p(in, jn)
        (3 * ti + tn + (if ((x & 1) == 0) 8 else 7)) >> 4
      }
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      assert(img != null, s"ImageIO rejected 4:2:0 JPEG $id")
      assert(img.getWidth === w && img.getHeight === h)
      var (sy, scb, scr, sr, sg, sb2, wr) = (0L, 0L, 0L, 0L, 0L, 0L, 0L)
      for (y <- 0 until h; x <- 0 until w) {
        val yy = yv(x, y)
        val cb = fancy(cbP, x, y); val cr = fancy(crP, x, y)
        val r = clamp(yy + ((91881 * (cr - 128) + 32768) >> 16))
        val g = clamp(yy + ((-22554 * (cb - 128) - 46802 * (cr - 128) + 32768) >> 16))
        val b = clamp(yy + ((116130 * (cb - 128) + 32768) >> 16))
        sy += yy; scb += cb; scr += cr
        sr += r; sg += g; sb2 += b
        wr += r.toLong * (y.toLong * w + x + 1)
        val v = img.getRGB(x, y)
        assert(((v >> 16) & 0xFF) === r && ((v >> 8) & 0xFF) === g && (v & 0xFF) === b,
          s"ImageIO pixel parity for $id at ($x,$y)")
      }
      assert(st.getLong(3) === sy, s"sum_y for $id")
      assert(st.getLong(4) === scb, s"sum_cb for $id")
      assert(st.getLong(5) === scr, s"sum_cr for $id")
      assert(st.getLong(6) === sr, s"sum_r for $id")
      assert(st.getLong(7) === sg, s"sum_g for $id")
      assert(st.getLong(8) === sb2, s"sum_b for $id")
      assert(st.getLong(9) === wr, s"wsum_r for $id")
      assert(st.getLong(10) === 0L, s"fixtures are DC-only for $id")
    }
  }

  test("4:2:0 JPEG: an entropy flip in any of the six MCU units derails the decode") {
    val sample = MediaSynth.jpegColor420(7L)
    val good = graft.functions.JpegDecode.jpegColor(sample)
    assert(!good.isNullAt(3))
    // flip one bit near the end of the entropy stream: four Y units and
    // two chroma units all ride one BitReader, so any derail nulls or
    // shifts the planes — and junk never throws
    val bad = sample.clone()
    bad(bad.length - 4) = (bad(bad.length - 4) ^ 0x40).toByte
    val st = graft.functions.JpegDecode.jpegColor(bad)
    assert(st.isNullAt(3) || st.getLong(3) != good.getLong(3) ||
      st.getLong(4) != good.getLong(4) || st.getLong(5) != good.getLong(5),
      "an entropy flip cannot decode to identical planes")
    // a 2x1 (4:2:2) declaration is IN the envelope since round 17 — the
    // header parses, but a 4:2:0-laid-out entropy stream read as 4:2:2
    // MCUs derails or lands on different planes, never on silent parity
    val sof = sample.indexOfSlice(Seq(0xFF.toByte, 0xC0.toByte))
    val samp422 = sample.clone()
    samp422(sof + 11) = 0x21.toByte // Y sampling 2x2 -> 2x1
    val st422 = graft.functions.JpegDecode.jpegColor(samp422)
    assert(!st422.isNullAt(0), "4:2:2 headers parse since round 17")
    assert(st422.isNullAt(3) || st422.getLong(3) != good.getLong(3),
      "a mislabeled sampling cannot decode to identical planes")
    // factor 3 stays outside the envelope: whole-row null
    val samp43 = sample.clone()
    samp43(sof + 11) = 0x23.toByte
    assert(graft.functions.JpegDecode.jpegColor(samp43).isNullAt(0))
  }

  test("4:2:2 and 4:4:0 JPEG: kernel equals the geometry's libjpeg upsampler and ImageIO per PIXEL") {
    // round-17 envelope rows: Y 2×1 (h2v1 fancy upsampling — nearer
    // sample 3:1, rounding +1 even / +2 odd, >> 2) and Y 1×2 (IJG 6b has
    // no fancy filter for vertical-only: int_upsample row REPLICATION).
    // Baseline, progressive, and DRI variants are pixel-identical twins
    // by construction; ImageIO parity is per pixel on every variant.
    def clamp(v: Int): Int = math.min(255, math.max(0, v))
    for (id <- 0L until 24L; (hs, vs) <- Seq((2, 1), (1, 2))) {
      val w = 8 * hs * (1 + id % 2).toInt
      val h = 8 * vs * (1 + id % 3).toInt
      def yv(x: Int, y: Int) = 48 + ((id + 5L * (x / 8) + 11L * (y / 8)) % 160).toInt
      def cbP(i: Int, j: Int) = 78 + ((3L * id + 7L * (i / 8) + 13L * (j / 8)) % 100).toInt
      def crP(i: Int, j: Int) = 78 + ((5L * id + 3L * (i / 8) + 17L * (j / 8)) % 100).toInt
      // chroma sample grid: subsampled along the Y-factor-2 axis only
      def up(p: (Int, Int) => Int, x: Int, y: Int): Int =
        if (hs == 2) { // h2v1 fancy
          val i = x >> 1
          val in = if ((x & 1) == 0) math.max(i - 1, 0) else math.min(i + 1, w / 2 - 1)
          (3 * p(i, y) + p(in, y) + (if ((x & 1) == 0) 1 else 2)) >> 2
        } else { // h1v2 fancy: vertical triangular
          val j = y >> 1
          val jn = if ((y & 1) == 0) math.max(j - 1, 0) else math.min(j + 1, h / 2 - 1)
          (3 * p(x, j) + p(x, jn) + (if ((y & 1) == 0) 1 else 2)) >> 2
        }
      val variants = Seq(
        "base" -> MediaSynth.jpegColorSampled(id, hs, vs, 0),
        "base+dri" -> MediaSynth.jpegColorSampled(id, hs, vs, 2),
        "prog" -> MediaSynth.jpegColorSampledProgressive(id, hs, vs, 0),
        "prog+dri" -> MediaSynth.jpegColorSampledProgressive(id, hs, vs, 2))
      val rows = variants.map { case (n, p) =>
        n -> graft.functions.JpegDecode.jpegColor(p)
      }
      rows.foreach { case (n, st) =>
        assert(!st.isNullAt(3), s"$hs x$vs $n fixture $id must decode")
        assert(st.getInt(0) === w && st.getInt(1) === h, s"dims for $id $n")
      }
      // all four variants are pixel-identical plantings
      for ((n, st) <- rows.tail; f <- 3 to 9)
        assert(st.getLong(f) === rows.head._2.getLong(f),
          s"variant $n of $hs x$vs $id diverges from baseline in field $f")
      // formula + ImageIO parity on the baseline variant
      var (sy, scb, scr, sr, sg, sb2, wr) = (0L, 0L, 0L, 0L, 0L, 0L, 0L)
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(variants.head._2))
      assert(img != null, s"ImageIO rejected $hs x$vs JPEG $id")
      assert(img.getWidth === w && img.getHeight === h)
      for (y <- 0 until h; x <- 0 until w) {
        val yy = yv(x, y)
        val cb = up(cbP, x, y); val cr = up(crP, x, y)
        val r = clamp(yy + ((91881 * (cr - 128) + 32768) >> 16))
        val g = clamp(yy + ((-22554 * (cb - 128) - 46802 * (cr - 128) + 32768) >> 16))
        val b = clamp(yy + ((116130 * (cb - 128) + 32768) >> 16))
        sy += yy; scb += cb; scr += cr; sr += r; sg += g; sb2 += b
        wr += r.toLong * (y.toLong * w + x + 1)
        val v = img.getRGB(x, y)
        assert(((v >> 16) & 0xFF) === r && ((v >> 8) & 0xFF) === g && (v & 0xFF) === b,
          s"ImageIO pixel parity for $hs x$vs $id at ($x,$y)")
      }
      val st = rows.head._2
      assert(st.getLong(3) === sy && st.getLong(4) === scb && st.getLong(5) === scr,
        s"plane sums for $hs x$vs $id")
      assert(st.getLong(6) === sr && st.getLong(7) === sg && st.getLong(8) === sb2,
        s"rgb sums for $hs x$vs $id")
      assert(st.getLong(9) === wr, s"wsum_r for $hs x$vs $id")
      // ImageIO parity on the DRI + progressive variants too (byte-
      // different streams, same decoded image)
      for ((n, p) <- variants.tail) {
        val im2 = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
        assert(im2 != null, s"ImageIO rejected $hs x$vs $n $id")
        assert(im2.getRGB(w - 1, h - 1) === img.getRGB(w - 1, h - 1) &&
          im2.getRGB(0, 0) === img.getRGB(0, 0), s"$n twin parity $id")
      }
      // corruption: one flipped entropy bit never yields silent parity
      val bad = variants.head._2.clone()
      bad(bad.length - 4) = (bad(bad.length - 4) ^ 0x40).toByte
      val bs = graft.functions.JpegDecode.jpegColor(bad)
      assert(bs.isNullAt(3) || bs.getLong(3) != st.getLong(3) ||
        bs.getLong(4) != st.getLong(4) || bs.getLong(5) != st.getLong(5),
        s"corrupted $hs x$vs $id decoded to identical planes")
    }
  }

  test("arithmetic-coded JPEG (SOF9): detected with dims, every decode tier honest-null") {
    // round-17 honesty row: neither this engine nor IJG-derived ImageIO
    // decodes arithmetic entropy coding (T.81 §F) — the contract is
    // detection without invention.
    for (id <- 0L until 12L) {
      val p = MediaSynth.jpegArith(id)
      assert(graft.functions.JpegDecode.jpeg(p).isNullAt(0),
        s"gray tier must whole-row-null the arithmetic fixture $id (no Huffman SOF)")
      assert(graft.functions.JpegDecode.jpegColor(p).isNullAt(0),
        s"color tier must null the arithmetic fixture $id")
      assert(graft.functions.JpegDecode.embedGray(p) === null &&
        graft.functions.JpegDecode.embedColor(p) === null,
        s"embed tiers must null the arithmetic fixture $id")
    }
  }

  test("color-progressive JPEG (SOF2 4:4:4): kernel equals planted formulas, ImageIO, and the embed fold") {
    // round 16: the multi-component Annex G machinery — interleaved DC
    // scans, per-component AC scans (Y carries the integer-exact zig-zag-10
    // coefficient through first pass + G.1.2.3 refinement), interleaved DC
    // refinement — reconstructed through libjpeg's fixed-point RGB. Every
    // step is integer-exact, so parity with ImageIO is per PIXEL.
    def clamp(v: Int): Int = math.min(255, math.max(0, v))
    for (id <- 0L until 24L) {
      val payload = MediaSynth.jpegColorProgressive(id)
      val st = graft.functions.JpegDecode.jpegColor(payload)
      assert(!st.isNullAt(3), s"color-progressive fixture $id must decode")
      val (w, h) = (st.getInt(0), st.getInt(1))
      assert(w === 8 * (1 + id % 3) && h === 8 * (1 + id % 2), s"dims for $id")
      def s(y: Int): Int = if (y % 4 == 0 || y % 4 == 3) 1 else -1
      def yv(x: Int, y: Int): Int = {
        val bs = id + x / 8 + y / 8
        val ac = (1 + bs % 3).toInt * (if (bs % 2 == 0) 1 else -1)
        48 + ((id + 5L * (x / 8) + 11L * (y / 8)) % 160).toInt + ac * s(y)
      }
      def cbv(x: Int, y: Int) = 78 + ((3L * id + 7L * (x / 8) + 13L * (y / 8)) % 100).toInt
      def crv(x: Int, y: Int) = 78 + ((5L * id + 3L * (x / 8) + 17L * (y / 8)) % 100).toInt
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      assert(img != null, s"ImageIO rejected color-progressive JPEG $id")
      assert(img.getWidth === w && img.getHeight === h)
      var (sy, scb, scr, sr, sg, sb2, wr) = (0L, 0L, 0L, 0L, 0L, 0L, 0L)
      val gridSum = new Array[Long](48)
      val gridCnt = new Array[Long](16)
      for (y <- 0 until h; x <- 0 until w) {
        val yy = yv(x, y); val cb = cbv(x, y); val cr = crv(x, y)
        val r = clamp(yy + ((91881 * (cr - 128) + 32768) >> 16))
        val g = clamp(yy + ((-22554 * (cb - 128) - 46802 * (cr - 128) + 32768) >> 16))
        val b = clamp(yy + ((116130 * (cb - 128) + 32768) >> 16))
        sy += yy; scb += cb; scr += cr; sr += r; sg += g; sb2 += b
        wr += r.toLong * (y.toLong * w + x + 1)
        val cell = (y * 4 / h) * 4 + x * 4 / w
        gridCnt(cell) += 1
        gridSum(cell * 3) += r; gridSum(cell * 3 + 1) += g; gridSum(cell * 3 + 2) += b
        val v = img.getRGB(x, y)
        assert(((v >> 16) & 0xFF) === r && ((v >> 8) & 0xFF) === g && (v & 0xFF) === b,
          s"ImageIO pixel parity for color-progressive $id at ($x,$y)")
      }
      assert(st.getLong(3) === sy, s"sum_y for $id")
      assert(st.getLong(4) === scb, s"sum_cb for $id")
      assert(st.getLong(5) === scr, s"sum_cr for $id")
      assert(st.getLong(6) === sr, s"sum_r for $id")
      assert(st.getLong(7) === sg, s"sum_g for $id")
      assert(st.getLong(8) === sb2, s"sum_b for $id")
      assert(st.getLong(9) === wr, s"wsum_r for $id")
      assert(st.getLong(10) === (w / 8).toLong * (h / 8),
        s"one nonzero Y AC per block for $id")
      // the content embedding routes color progressive for real (the
      // round-15 verdict's "q_mm_embed non-null on them")
      val e = graft.functions.JpegDecode.embed(payload)
      assert(e != null, s"color-progressive embed must be non-null for $id")
      val want = (0 until 48).map(i => (gridSum(i).toDouble / gridCnt(i / 3)) / 255.0)
      assert(e.toSeq === want, s"color-progressive grid means diverge for $id")
    }
    // truncated streams null the sums and never throw (scan-resolution
    // honesty: any prefix that still parses a header reports geometry only)
    val sample = MediaSynth.jpegColorProgressive(7L)
    for (len <- Seq(sample.length - 3, sample.length * 3 / 4, sample.length / 2, 40)) {
      val st = graft.functions.JpegDecode.jpegColor(sample.take(len))
      if (st != null && !st.isNullAt(0))
        assert(st.isNullAt(3), s"truncated color-progressive (len $len) must null sums")
    }
  }

  test("progressive 4:2:0: pixel-identical twin of the baseline fixture; partial-MCU dims pin ImageIO") {
    // the mixed-table twin: same planted DC fields as jpegColor420, byte-
    // different SOF2 multi-scan framing — every stats field must agree
    // bit-for-bit, which is what lets the formula oracles stay green while
    // the subsampled multi-scan MCU walk rides the hash gate
    for (id <- 0L until 24L) {
      val prog = graft.functions.JpegDecode.jpegColor(
        MediaSynth.jpegColor420Progressive(id))
      val base = graft.functions.JpegDecode.jpegColor(MediaSynth.jpegColor420(id))
      assert(!prog.isNullAt(3), s"progressive 4:2:0 twin $id must decode")
      for (f <- 0 to 10)
        assert(prog.get(f, null) === base.get(f, null),
          s"field $f of progressive-4:2:0 twin $id diverges from baseline")
    }
    // partial-MCU geometry: dims that are block multiples but NOT MCU
    // multiples — the padded luma grid carries pad blocks the interleaved
    // DC scan codes but the non-interleaved AC scans and emission skip.
    // ImageIO (the real libjpeg walk) is the reference, per pixel.
    for ((w, h) <- Seq((24, 40), (40, 24), (24, 24), (8, 8))) {
      val payload = MediaSynth.jpegColor420Progressive(11L, w, h)
      val st = graft.functions.JpegDecode.jpegColor(payload)
      assert(!st.isNullAt(3), s"partial-MCU progressive 4:2:0 ($w x $h) must decode")
      assert(st.getInt(0) === w && st.getInt(1) === h)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      assert(img != null, s"ImageIO rejected partial-MCU progressive 4:2:0 ($w x $h)")
      assert(img.getWidth === w && img.getHeight === h)
      var (ir, ig, ib) = (0L, 0L, 0L)
      for (y <- 0 until h; x <- 0 until w) {
        val v = img.getRGB(x, y)
        ir += (v >> 16) & 0xFF; ig += (v >> 8) & 0xFF; ib += v & 0xFF
      }
      assert(st.getLong(6) === ir, s"ImageIO sum_r parity ($w x $h)")
      assert(st.getLong(7) === ig, s"ImageIO sum_g parity ($w x $h)")
      assert(st.getLong(8) === ib, s"ImageIO sum_b parity ($w x $h)")
    }
    // a flipped entropy bit in the interleaved DC scan derails or nulls
    val sample = MediaSynth.jpegColor420Progressive(5L)
    val good = graft.functions.JpegDecode.jpegColor(sample)
    val bad = sample.clone()
    // the first scan's entropy starts right after the first SOS header
    val sosAt = {
      var i = 2
      while (!(bad(i) == 0xFF.toByte && bad(i + 1) == 0xDA.toByte)) i += 1
      i
    }
    bad(sosAt + 14 + 2) = (bad(sosAt + 14 + 2) ^ 0x55).toByte
    val st = graft.functions.JpegDecode.jpegColor(bad)
    assert(st.isNullAt(3) || st.getLong(3) != good.getLong(3) ||
      st.getLong(4) != good.getLong(4) || st.getLong(5) != good.getLong(5),
      "a DC-scan flip cannot decode to identical planes")
  }

  test("color JPEG: corrupting a CHROMA component fires without touching luma") {
    val sample = MediaSynth.jpegColor(5L)
    val good = graft.functions.JpegDecode.jpegColor(sample)
    // locate the SECOND DQT segment (chroma table 1) and bump its DC
    // quantizer: the luma plane must decode identically while both chroma
    // sums shift — the corruption is component-scoped
    def dqtAt(p: Array[Byte], from: Int): Int = {
      var i = from
      while (i + 1 < p.length &&
        !((p(i) & 0xFF) == 0xFF && (p(i + 1) & 0xFF) == 0xDB)) i += 1
      i
    }
    val dqt2 = dqtAt(sample, dqtAt(sample, 2) + 2)
    assert((sample(dqt2 + 4) & 0xFF) === 0x01, "second DQT is chroma table 1")
    val bad = sample.clone()
    bad(dqt2 + 5) = 16.toByte // chroma Q[0]: 8 -> 16
    val st = graft.functions.JpegDecode.jpegColor(bad)
    assert(st.getLong(3) === good.getLong(3), "luma sum unchanged")
    assert(st.getLong(4) != good.getLong(4), "cb sum must shift")
    assert(st.getLong(5) != good.getLong(5), "cr sum must shift")
    // a flipped bit in the interleaved entropy stream derails or drifts
    val bad2 = sample.clone()
    bad2(bad2.length - 4) = (bad2(bad2.length - 4) ^ 0x40).toByte
    val st2 = graft.functions.JpegDecode.jpegColor(bad2)
    assert(st2.getInt(0) > 0, "geometry still parses")
    assert(st2.isNullAt(3) || st2.getLong(3) != good.getLong(3) ||
      st2.getLong(4) != good.getLong(4) || st2.getLong(5) != good.getLong(5),
      "an entropy flip cannot decode to identical planes")
    // hostile inputs never throw
    for (junk <- Seq(Array.empty[Byte], Array[Byte](0xFF.toByte, 0xD8.toByte),
      Array.fill(64)(0xFF.toByte), sample.take(30))) {
      assert(graft.functions.JpegDecode.jpegColor(junk) != null)
    }
  }

  test("real content encoder: decoded-pixel/sample descriptors with the declared shape") {
    val feats = Multimodal.mediaFeatures(
      Multimodal.rawMediaTable(docs.filter(col("doc_id") < 10)))
    val rows = feats.collect()
    assert(rows.length === 10)
    rows.foreach { r =>
      val v = r.getSeq[Double](1)
      r.getString(2) match {
        case Multimodal.imageEncoderTag =>
          assert(v.length === 48, "4x4 grid x RGB")
          assert(v.forall(x => x >= 0.0 && x <= 1.0))
        case Multimodal.audioEncoderTag =>
          assert(v.length === 12, "4 segments x (mean, rms, zcr)")
          assert(v.zipWithIndex.forall { case (x, i) =>
            if (i % 3 == 0) x >= -1.0 && x <= 1.0 else x >= 0.0 && x <= 1.0 })
        case other => fail(s"unknown encoder tag $other")
      }
    }
    // PNG path: the inflate-fed grid means must equal a direct reference
    // computation from the planting formulas (w = 4+id%7, h = 4+id%5,
    // channel c(x,y) per MediaSynth.png) — the same exactness contract
    // the BMP/WAV paths carry via the q_mm_features oracle
    for (id <- 0L until 12L) {
      val got = graft.functions.MediaDecode.embed(MediaSynth.png(id))
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray()
      val (w, h) = ((4 + id % 7).toInt, (4 + id % 5).toInt)
      val sums = Array.fill(48)(0L)
      val cnts = Array.fill(16)(0L)
      for (y <- 0 until h; x <- 0 until w) {
        val cell = (y * 4 / h) * 4 + x * 4 / w
        cnts(cell) += 1
        sums(cell * 3) += (id + 7 * x + 13 * y) % 256
        sums(cell * 3 + 1) += (3 * id + 5 * x + 11 * y) % 256
        sums(cell * 3 + 2) += (5 * id + 3 * x + 17 * y) % 256
      }
      val want = Array.tabulate(48)(i => (sums(i).toDouble / cnts(i / 3)) / 255.0)
      assert(got.toSeq === want.toSeq, s"png grid means diverge for id=$id")
    }
    // JPEG path: the T.81 grid fold must equal the DC-exact planting
    // formula (w = 8(1+id%3), h = 8(1+id%2), flat blocks at
    // 48 + (id + 5bx + 11by) % 160), cell means duplicated across RGB
    for (id <- 0L until 12L) {
      val got = graft.functions.MediaDecode.embed(MediaSynth.jpeg(id))
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray()
      val (w, h) = ((8 * (1 + id % 3)).toInt, (8 * (1 + id % 2)).toInt)
      val sums = Array.fill(16)(0L)
      val cnts = Array.fill(16)(0L)
      for (y <- 0 until h; x <- 0 until w) {
        val cell = (y * 4 / h) * 4 + x * 4 / w
        cnts(cell) += 1
        sums(cell) += 48 + (id + 5 * (x / 8) + 11 * (y / 8)) % 160
      }
      val want = Array.tabulate(48)(i => (sums(i / 3).toDouble / cnts(i / 3)) / 255.0)
      assert(got.toSeq === want.toSeq, s"jpeg grid means diverge for id=$id")
    }
    // hostile payloads never throw, they null
    for (junk <- Seq(Array.empty[Byte], "BM".getBytes, "RIFF".getBytes,
      MediaSynth.bmp(3L).take(20), MediaSynth.png(3L).take(40),
      Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte),
      MediaSynth.jpeg(5L).take(30)))
      assert(graft.functions.MediaDecode.embed(junk) == null)
  }

  test("near-identical media land nearest in the feature space (r13 verdict #5)") {
    def vec(p: Array[Byte]): Array[Double] = graft.functions.MediaDecode.embed(p)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray()
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / math.sqrt(na * nb)
    }
    // one flipped pixel byte in a real BMP: under the md5 stub the vector
    // teleported; under the content encoder the mutant's nearest neighbor
    // among 40 distinct images must be its own source
    val imgs = (0L until 80L by 2).map(MediaSynth.bmp).toArray
    val mutant = imgs(7).clone()
    mutant(mutant.length - 2) = (mutant(mutant.length - 2) ^ 0x7F).toByte
    val mv = vec(mutant)
    val best = imgs.indices.maxBy(i => cos(mv, vec(imgs(i))))
    assert(best === 7, "one-pixel mutant must stay nearest its source image")
    // same property for audio: one flipped sample
    val wavs = (1L until 81L by 2).map(MediaSynth.wav).toArray
    val wMut = wavs(11).clone()
    wMut(60) = (wMut(60) ^ 0x3F).toByte
    val wv = vec(wMut)
    val wBest = wavs.indices.maxBy(i => cos(wv, vec(wavs(i))))
    assert(wBest === 11, "one-sample mutant must stay nearest its source clip")
  }

  test("progressive JPEG: four-scan decode equals the planted formula and ImageIO byte-for-byte") {
    // the fixtures plant the SAME pixel field as jpegAc (DC + one
    // integer-exact AC at zig-zag 10), so the progressive decoder must
    // land on the identical integers the baseline twin and ImageIO do —
    // across DC-first (Al=1), AC-first (EOB runs with extra bits),
    // DC-refinement, and AC-refinement (newly-nonzero + correction bits)
    def s4(y: Int): Long = if (y % 4 == 0 || y % 4 == 3) 1L else -1L
    for (id <- 0L until 18L) {
      val payload = MediaSynth.jpegProgressive(id)
      val st = graft.functions.JpegDecode.jpeg(payload)
      assert(!st.isNullAt(3), s"progressive fixture $id must decode")
      val (w, h) = (st.getInt(0), st.getInt(1))
      def ac(bx: Long, by: Long): Long = {
        val m = 1L + (id + bx + by) % 3
        if ((id + bx + by) % 2 == 0) m else -m
      }
      val vals = for (y <- 0 until h; x <- 0 until w)
        yield 48L + (id + 5L * (x / 8) + 11L * (y / 8)) % 160 + ac(x / 8, y / 8) * s4(y)
      assert(st.getLong(3) === vals.sum, s"sum_luma exact for $id")
      assert(st.getLong(4) ===
        vals.zipWithIndex.map { case (v, i) => (i + 1L) * v }.sum,
        s"wsum_luma exact for $id")
      assert(st.getLong(5) === st.getLong(2), s"one final AC per block for $id")
      // the files are real progressive JPEGs: ImageIO's native reader
      // decodes them, and on the integer-exact planted field the pixels
      // agree BYTE-FOR-BYTE (no IDCT latitude on this corner)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      assert(img != null, s"ImageIO rejected progressive JPEG $id")
      assert(img.getWidth === w && img.getHeight === h)
      val raster = img.getRaster
      for (y <- 0 until h; x <- 0 until w)
        assert(raster.getSample(x, y, 0).toLong === vals(y * w + x),
          s"pixel ($x,$y) of progressive $id diverges from the planted formula")
      // the content embedding covers the progressive tier (round-15
      // verdict task #1's last done-criterion): non-null and equal to the
      // grid means of the planted field
      val e = graft.functions.JpegDecode.embed(payload)
      assert(e != null, s"progressive embed must be non-null for $id")
      val sums = Array.fill(16)(0L)
      val cnts = Array.fill(16)(0L)
      for (y <- 0 until h; x <- 0 until w) {
        val cell = (y * 4 / h) * 4 + x * 4 / w
        cnts(cell) += 1
        sums(cell) += vals(y * w + x)
      }
      val want = Array.tabulate(48)(i => (sums(i / 3).toDouble / cnts(i / 3)) / 255.0)
      assert(e.toSeq === want.toSeq, s"progressive grid means diverge for $id")
    }
    // corruption triggers: every truncation and every byte flip returns a
    // row without throwing; truncations inside/between scans null the sums
    val sample = MediaSynth.jpegProgressive(5L)
    for (len <- 0 to sample.length) {
      val st = graft.functions.JpegDecode.jpeg(sample.take(len))
      assert(st != null)
      if (len < sample.length && !st.isNullAt(0))
        assert(st.isNullAt(3), s"truncated progressive stream (len $len) must null sums")
    }
    // an amusing property of the planted basis: zig-zag 10 is zero-mean
    // over a block AND orthogonal to the linear position weight AND
    // cancels inside every 4-row grid cell — sum_luma, wsum_luma, and the
    // embed are ALL invariant to the ac magnitudes by construction (the
    // per-pixel ImageIO/formula loops above are what pin them). The
    // structural triggers therefore use n_ac_coeffs and derailment:
    val goodRow = graft.functions.JpegDecode.jpeg(sample)
    val goodW = goodRow.getLong(4)
    val goodNac = goodRow.getLong(5)
    for (i <- sample.indices) {
      val m = sample.clone()
      m(i) = (m(i) ^ 0x55).toByte
      assert(graft.functions.JpegDecode.jpeg(m) != null)
    }
    val lastSos = (0 until sample.length - 10).filter(i =>
      (sample(i) & 0xFF) == 0xFF && (sample(i + 1) & 0xFF) == 0xDA).max
    // without its fourth scan the |ac| = 1 coefficients never arrive
    // (AC-first at Al=1 transforms them to zero): the refinement scan is
    // what completes the plane — n_ac must drop from 6/6 blocks
    val cut = sample.take(lastSos) ++ Array(0xFF.toByte, 0xD9.toByte)
    val st3 = graft.functions.JpegDecode.jpeg(cut)
    assert(st3.isNullAt(5) || st3.getLong(5) < goodNac,
      "dropping the AC-refinement scan must lose the newly-nonzero coefficients")
    // flips in the refinement entropy must be able to change the decode
    // (a displaced newly-nonzero run lands on a non-canceling zig-zag
    // position, or the stream derails) — some positions are pad bits, so
    // the pin is that SOME flip after the fourth SOS lands
    val refinementFlipLands = (lastSos + 10 until sample.length - 2).exists { i =>
      val bad = sample.clone()
      bad(i) = (bad(i) ^ 0x15).toByte
      val st = graft.functions.JpegDecode.jpeg(bad)
      st.isNullAt(4) || st.getLong(4) != goodW || st.getLong(5) != goodNac
    }
    assert(refinementFlipLands,
      "no AC-refinement entropy flip changed the decode — the scan is not load-bearing")
  }

  test("color JPEG embed: per-channel grid means equal ImageIO; one-pixel mutant lands nearest") {
    def gridOf(img: java.awt.image.BufferedImage): Array[Double] = {
      val (w, h) = (img.getWidth, img.getHeight)
      val sums = Array.fill(48)(0L)
      val cnts = Array.fill(16)(0L)
      for (y <- 0 until h; x <- 0 until w) {
        val rgb = img.getRGB(x, y)
        val cell = (y * 4 / h) * 4 + x * 4 / w
        cnts(cell) += 1
        sums(cell * 3) += (rgb >> 16) & 0xFF
        sums(cell * 3 + 1) += (rgb >> 8) & 0xFF
        sums(cell * 3 + 2) += rgb & 0xFF
      }
      Array.tabulate(48)(i => (sums(i).toDouble / cnts(i / 3)) / 255.0)
    }
    // both color layouts: the embed's per-channel cell means must equal a
    // reference fold over ImageIO's own decoded RGB (the kernels share
    // libjpeg's fixed-point conversion + fancy upsampler, so the match is
    // EXACT, not approximate)
    for ((mk, tag) <- Seq((MediaSynth.jpegColor _, "4:4:4"),
      (MediaSynth.jpegColor420 _, "4:2:0")); id <- 0L until 12L) {
      val p = mk(id)
      val e = graft.functions.JpegDecode.embed(p)
      assert(e != null, s"$tag color embed must be non-null for $id")
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
      assert(e.toSeq === gridOf(img).toSeq, s"$tag grid means diverge for $id")
    }
    // the r13-verdict mutant property, now on COLOR: flip low entropy bits
    // of one 4:2:0 payload until the stream still decodes but the content
    // changed — the mutant's nearest neighbor among 40 distinct color
    // images must be its own source
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / math.sqrt(na * nb)
    }
    val imgs = (0L until 80L by 2).map(MediaSynth.jpegColor420).toArray
    val vecs = imgs.map(graft.functions.JpegDecode.embed)
    val srcIdx = 7
    val mutant = (0 until 8 * (imgs(srcIdx).length - 3)).iterator.map { bi =>
      val m = imgs(srcIdx).clone()
      m(3 + bi / 8) = (m(3 + bi / 8) ^ (1 << (bi % 8))).toByte
      graft.functions.JpegDecode.embed(m)
    }.find(v => v != null && v.toSeq != vecs(srcIdx).toSeq).get
    val best = vecs.indices.maxBy(i => cos(mutant, vecs(i)))
    assert(best === srcIdx, "a minimal color mutant must stay nearest its source image")
  }
}
