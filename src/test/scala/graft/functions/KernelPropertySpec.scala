package graft.functions

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Property pins for the native kernels against reference formulations,
  * over adversarial random inputs (fixed seeds — no scalatest-scalacheck
  * bridge in the offline dependency set, same convention as
  * TransformPropertySpec).
  */
class KernelPropertySpec extends SparkSpec {

  /** Space-heavy strings over a mixed ascii/multibyte alphabet, biased
    * toward the edge shapes: leading/trailing/consecutive spaces, empties.
    */
  private val genText: Gen[String] = {
    val token = Gen.oneOf("a", "bb", "ccc", "é", "嗨", "x1", "")
    for {
      n <- Gen.chooseNum(0, 12)
      toks <- Gen.listOfN(n, token)
      sep <- Gen.listOfN(math.max(n - 1, 0), Gen.oneOf(" ", "  "))
    } yield toks.zipAll(sep, "", "").map { case (t, s) => t + s }.mkString
  }

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("WordShingles equals the HOF formulation on random space-heavy strings") {
    import spark.implicits._
    val texts = samples(genText, 300).distinct
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val hof = graft.dedup.Dedup.shingles(split(col("text"), " "))
    val native = coalesce(TextFunctions.wordShingles(col("text"), 3),
      array().cast(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType)))
    val diff = df.select(col("doc_id"),
        array_sort(native).as("n"), array_sort(hof).as("h"))
      .filter(col("n") =!= col("h"))
    assert(diff.count() === 0)
  }

  test("NormalizeText equals the two-regex expression composition") {
    import spark.implicits._
    // the alphabet bakes in the parity traps: uppercase, digits,
    // punctuation runs, tabs/newlines (NOT collapsed by the ' +' regex —
    // they are deleted by the strip), multibyte letters that vanish,
    // Kelvin sign K (U+212A, lowercases INTO ascii 'k'), Turkish İ
    // (U+0130, lowercases to 'i' + combining dot), and space pileups
    val token = Gen.oneOf("Abc", "XY9", "..!?", "é嗨", "K", "İ",
      "\t", "\n", "a.b", "", "0Z")
    val gen = for {
      n <- Gen.chooseNum(0, 14)
      toks <- Gen.listOfN(n, token)
      sep <- Gen.listOfN(math.max(n - 1, 0), Gen.oneOf("", " ", "  ", "   "))
    } yield toks.zipAll(sep, "", "").map { case (t, s) => t + s }.mkString
    val texts = samples(gen, 400).distinct ++
      Seq("", " ", "  a  ", "A.B,C", "ßKİ x")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val regex = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    val diff = df.select(col("doc_id"), col("text"),
        TextFunctions.normalizeText(col("text")).as("n"), regex.as("r"))
      .filter(col("n") =!= col("r"))
    assert(diff.collect().toSeq === Seq.empty)
  }

  test("WordShingleHashes equals sorted-distinct xxhash64 over the string kernel") {
    import spark.implicits._
    val texts = samples(genText, 300).distinct
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val viaStrings = array_sort(array_distinct(
      transform(TextFunctions.wordShingles(col("text"), 3), s => xxhash64(s))))
    val native = ShingleHashFunctions.wordShingleHashes(col("text"), 3)
    val diff = df.select(viaStrings.as("ref"), native.as("n"))
      .filter(col("ref") =!= col("n"))
    assert(diff.count() === 0)
  }

  test("SortedIntersectCount equals size(array_intersect) on sorted distinct arrays") {
    import spark.implicits._
    val genArr: Gen[Seq[Long]] =
      Gen.chooseNum(0, 30).flatMap(n =>
        Gen.listOfN(n, Gen.chooseNum(-50L, 50L)).map(_.distinct.sorted.toSeq))
    val pairs = samples(Gen.zip(genArr, genArr), 250)
    val df = pairs.toDF("a", "b")
    val diff = df.select(
        size(array_intersect(col("a"), col("b"))).as("ref"),
        ShingleHashFunctions.sortedIntersectCount(col("a"), col("b")).as("n"))
      .filter(col("ref") =!= col("n"))
    assert(diff.count() === 0)
  }

  test("SortedIntersectCount galloping path (≥32x size skew) equals the merge count") {
    import spark.implicits._
    // small side ≤ 8 elements vs big side ≥ 256: exercises the r18
    // exponential-search branch on both orderings, including duplicates-of
    // -position edges (v below all, between runs, above all)
    val genSmall: Gen[Seq[Long]] =
      Gen.chooseNum(0, 8).flatMap(n =>
        Gen.listOfN(n, Gen.chooseNum(-2000L, 2000L)).map(_.distinct.sorted.toSeq))
    val genBig: Gen[Seq[Long]] =
      Gen.chooseNum(256, 400).flatMap(n =>
        Gen.listOfN(n, Gen.chooseNum(-2000L, 2000L)).map(_.distinct.sorted.toSeq))
    val pairs = samples(Gen.zip(genSmall, genBig), 120)
    val df = pairs.toDF("a", "b")
    val diff = df.select(
        size(array_intersect(col("a"), col("b"))).as("ref"),
        ShingleHashFunctions.sortedIntersectCount(col("a"), col("b")).as("n1"),
        ShingleHashFunctions.sortedIntersectCount(col("b"), col("a")).as("n2"))
      .filter(col("ref") =!= col("n1") || col("ref") =!= col("n2"))
    assert(diff.count() === 0)
  }

  test("RepetitionStats equals a plain-Scala count over random token lists") {
    import spark.implicits._
    val genToks: Gen[Seq[String]] =
      Gen.chooseNum(0, 25).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf("a", "b", "bb", "é", "嗨", "x1")).map(_.toSeq))
    val lists = samples(genToks, 300)
    val rows = lists.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "toks")
      .select(col("id"), TextFunctions.repetitionStats(col("toks")).as("st"))
      .collect().map(r => r.getLong(0) -> Option(r.getStruct(1))).toMap
    lists.zipWithIndex.foreach { case (toks, i) =>
      val st = rows(i.toLong)
      if (toks.isEmpty) assert(st.isEmpty, s"empty list $i must be null")
      else {
        val s = st.get
        val uni = toks.groupBy(identity).view.mapValues(_.size.toLong)
        assert(s.getLong(0) === toks.size.toLong, s"n_tokens for $i")
        assert(s.getLong(1) === uni.values.max, s"top_uni for $i")
        assert(s.getLong(2) === uni.values.count(_ == 1L).toLong, s"n_hapax for $i")
        if (toks.size < 2) assert(s.isNullAt(3) && s.isNullAt(4), s"bigram nulls for $i")
        else {
          val big = toks.sliding(2).toSeq.groupBy(identity).view.mapValues(_.size.toLong)
          assert(s.getLong(3) === toks.size.toLong - 1, s"n_bigrams for $i")
          assert(s.getLong(4) === big.values.max, s"top_big for $i")
        }
      }
    }
  }

  test("BpeCounts equals a regex + merge-replay reference on adversarial text") {
    import spark.implicits._
    // mixed words/digits/symbols/multibyte/odd whitespace: NBSP is not \s
    // under either engine (symbol token), and VERTICAL TAB is whitespace
    // only under Java — the kernel follows RE2 (the oracle's engine), so
    // VT must count as a symbol; the generator plants it
    val genDoc: Gen[String] = {
      val piece = Gen.oneOf("customer", "filter", "spark", "que", "ry", "zz",
        "a", "42", "3", ",", "é", "嗨", " ", " ", "  ", "\t", "\n", "\u000B", "")
      Gen.chooseNum(0, 20).flatMap(n => Gen.listOfN(n, piece).map(_.mkString))
    }
    def ref(text: String): (Long, Long, Long) = {
      val lowered = text.toLowerCase
      val words = "[a-z]+".r.findAllIn(lowered).toSeq
      // round 16: the reference encoder is sequential trainer application
      // (BpeReference.encode), matching the kernel's merge-priority replay
      val toks = words.flatMap(graft.text.BpeReference.encode)
      // RE2's \s set spelled out — Java's \s would wrongly swallow VT
      val nOther = "[0-9]+|[^a-z0-9 \\t\\n\\f\\r]".r.findAllIn(lowered).size.toLong
      (toks.size.toLong, toks.count(_.length > 1).toLong, nOther)
    }
    val texts = samples(genDoc, 300)
    val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
      .select(col("id"), BpeFunctions.bpeCounts(col("text")).as("st"))
      .collect().map(r => r.getLong(0) -> r.getStruct(1)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val (b, m, o) = ref(t)
      val s = rows(i.toLong)
      assert((s.getLong(0), s.getLong(1), s.getLong(2)) === ((b, m, o)),
        s"counts for ${t.map(c => f"\\u$c%04x").mkString}")
    }
  }

  test("media decode kernels never throw on junk or hostile headers") {
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val pngSig = b(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
    val hostile: Seq[Array[Byte]] = Seq(
      Array.empty[Byte],
      b(0x89),
      // PNG: valid sig + IHDR gate, width 0xFFFFFFFF (wraps the Int cast)
      pngSig ++ b(0, 0, 0, 13) ++ "IHDR".getBytes ++
        b(0xFF, 0xFF, 0xFF, 0xFF, 0, 0, 0, 4, 8, 2, 0, 0, 0) ++ b(0, 0, 0, 0) ++
        Array.fill(64)(0x41.toByte),
      // PNG: w=0x7FFFFFFF, h=0x60000000 — both positive Ints, but
      // h*(3w+1) ≈ 1.04e19 overflows Long to a NEGATIVE rawLen whose low
      // 32 bits (0x40000000) are a positive Int, so without the rawLen<=0
      // guard the scanline loop runs 2^30 iterations off the end. Needs a
      // findable IDAT chunk so the walk reaches the geometry guard.
      pngSig ++ b(0, 0, 0, 13) ++ "IHDR".getBytes ++
        b(0x7F, 0xFF, 0xFF, 0xFF, 0x60, 0, 0, 0, 8, 2, 0, 0, 0) ++ b(0, 0, 0, 0) ++
        b(0, 0, 0, 16) ++ "IDAT".getBytes ++ Array.fill(24)(0x41.toByte),
      // PNG: chunk walk poisoned with a huge declared length (position
      // overflow if carried in Int)
      pngSig ++ b(0, 0, 0, 13) ++ "IHDR".getBytes ++
        b(0, 0, 0, 4, 0, 0, 0, 4, 8, 2, 0, 0, 0) ++ b(0, 0, 0, 0) ++
        b(0xFF, 0xFF, 0xFF, 0xF0) ++ "tEXt".getBytes ++ Array.fill(32)(0.toByte),
      // BMP: magic + 24bpp gate with a negative pixel offset and huge width
      ("BM" + "\u0000" * 8).getBytes ++ b(0xFF, 0xFF, 0xFF, 0xFF) ++
        b(40, 0, 0, 0) ++ b(0xFF, 0xFF, 0xFF, 0x7F) ++ b(4, 0, 0, 0) ++
        b(1, 0) ++ b(24, 0) ++ b(0, 0, 0, 0) ++ Array.fill(32)(0.toByte),
      // WAV: valid gates, data length far past the payload
      "RIFF????WAVEfmt ".getBytes ++ b(16, 0, 0, 0, 1, 0, 1, 0) ++
        b(0x44, 0xAC, 0, 0) ++ Array.fill(6)(0.toByte) ++ b(16, 0) ++
        "data".getBytes ++ b(0xFF, 0xFF, 0xFF, 0x7F) ++ Array.fill(8)(7.toByte),
    )
    val genBytes: Gen[Array[Byte]] =
      Gen.chooseNum(0, 96).flatMap(n =>
        Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte)).map(_.toArray))
    (hostile ++ samples(genBytes, 200)).foreach { payload =>
      // must return a row (possibly all-null fields), never throw
      assert(MediaDecode.png(payload) != null)
      assert(MediaDecode.bmp(payload) != null)
      assert(MediaDecode.wav(payload) != null)
      assert(JpegDecode.jpeg(payload) != null)
    }
    // JPEG-prefixed junk drives the segment walk + entropy machinery
    val soi = Array(0xFF, 0xD8).map(_.toByte)
    samples(genBytes, 200).foreach { tail =>
      assert(JpegDecode.jpeg(soi ++ tail) != null)
    }
    // AC-bearing streams: every single-byte flip and every truncation of a
    // real zig-zag-10 fixture must return a row, never throw — the AC
    // run/size/ZRL branches see in-envelope-but-corrupt data
    val acFix = graft.multimodal.MediaSynth.jpegAc(5L)
    for (i <- acFix.indices) {
      val m = acFix.clone()
      m(i) = (m(i) ^ 0x55).toByte
      assert(JpegDecode.jpeg(m) != null)
    }
    for (len <- 0 to acFix.length)
      assert(JpegDecode.jpeg(acFix.take(len)) != null)
  }

  test("fixed-Huffman inflate agrees with java.util.zip.Inflater, incl. copies") {
    def jdkInflate(stream: Array[Byte], outLen: Int): Array[Byte] = {
      val inf = new java.util.zip.Inflater(true) // nowrap: raw deflate
      inf.setInput(stream)
      val out = new Array[Byte](outLen)
      var got = 0
      while (got < outLen && !inf.finished()) got += inf.inflate(out, got, outLen - got)
      inf.end()
      assert(got === outLen, "JDK inflater produced the wrong size")
      out
    }
    val rnd = new scala.util.Random(20260814L)
    for (trial <- 0 until 100) {
      // raw = k repeated-row pairs: rows 2i+1 repeat row 2i, which is what
      // the encoder's whole-row back-references (len = dist = L) encode
      val l = 13 + rnd.nextInt(28)
      val k = 1 + rnd.nextInt(4)
      val base = Array.fill(k) { val r = new Array[Byte](l); rnd.nextBytes(r); r }
      val raw = base.flatMap(r => r ++ r)
      val stream = graft.multimodal.MediaSynth.fixedDeflate(raw, l)
      // the JDK's production inflater accepts and reproduces the stream
      assert(jdkInflate(stream, raw.length).toSeq === raw.toSeq, s"trial $trial (jdk)")
      // and the kernel's inflate agrees byte-for-byte
      val mine = new Array[Byte](raw.length)
      val n = MediaDecode.inflate(stream, 0, stream.length, mine)
      assert(n === raw.length, s"trial $trial (size)")
      assert(mine.toSeq === raw.toSeq, s"trial $trial (bytes)")
    }
    // multi-block: a non-final STORED block followed by a final fixed block
    val part1 = new Array[Byte](17)
    new scala.util.Random(7L).nextBytes(part1)
    val row = new Array[Byte](13)
    new scala.util.Random(8L).nextBytes(row)
    val part2 = row ++ row
    val stored = Array[Byte](0x00, // BFINAL=0, BTYPE=00, padded to byte
      (part1.length & 0xFF).toByte, 0x00,
      (~part1.length & 0xFF).toByte, 0xFF.toByte) ++ part1
    val stream = stored ++ graft.multimodal.MediaSynth.fixedDeflate(part2, 13)
    val raw = part1 ++ part2
    assert(jdkInflate(stream, raw.length).toSeq === raw.toSeq)
    val mine = new Array[Byte](raw.length)
    assert(MediaDecode.inflate(stream, 0, stream.length, mine) === raw.length)
    assert(mine.toSeq === raw.toSeq)
    // dynamic blocks: REAL raw-deflate output (java.util.zip.Deflater,
    // nowrap) over assorted data shapes must inflate back byte-for-byte —
    // this drives the code-length-code path with a production encoder
    for (trial <- 0 until 50) {
      val n = 64 + rnd.nextInt(2048)
      val data = new Array[Byte](n)
      trial % 3 match {
        case 0 => rnd.nextBytes(data) // incompressible → stored blocks
        case 1 => // skewed + repetitive → dynamic blocks
          var i = 0
          while (i < n) { data(i) = ((i / 7) % 23).toByte; i += 1 }
        case _ => // text-ish
          var i = 0
          while (i < n) { data(i) = ('a' + (i * i) % 17).toByte; i += 1 }
      }
      val d = new java.util.zip.Deflater(9, true)
      d.setInput(data); d.finish()
      val buf = new Array[Byte](n * 2 + 64)
      val zn = d.deflate(buf)
      d.end()
      val back = new Array[Byte](n)
      assert(MediaDecode.inflate(buf, 0, zn, back) === n, s"deflater trial $trial")
      assert(back.toSeq === data.toSeq, s"deflater trial $trial bytes")
    }
    // malformed streams report -1, never throw
    val junk = new Array[Byte](64)
    new scala.util.Random(9L).nextBytes(junk)
    val scratch = new Array[Byte](4096)
    for (b0 <- Seq(0x03, 0x05)) { // garbage fixed / dynamic blocks
      junk(0) = b0.toByte
      assert(MediaDecode.inflate(junk, 0, junk.length, scratch) <= scratch.length)
    }
    assert(MediaDecode.inflate(Array[Byte](0x05), 0, 1, scratch) === -1)
  }

  test("ByteLaneAgree equals the per-byte reference, incl. adversarial lanes") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def naive(a: Array[Long], b: Array[Long]): Int =
      (0 until math.min(a.length, b.length)).map { k =>
        (0 until 8).count(l => ((a(k) >>> (8 * l)) & 0xFF) == ((b(k) >>> (8 * l)) & 0xFF))
      }.sum
    def arr(xs: Array[Long]) = new GenericArrayData(xs.map(x => x: Any))
    // adversarial fixed cases: the SWAR zero-byte detector's edge bytes
    // (0x00, 0x01, 0x7F, 0x80, 0xFF) adjacent to agreeing lanes, where a
    // carry-sloppy formula shows false positives
    val edges = Seq(
      (Array(0L), Array(0L)),                                  // all 8 agree
      (Array(0x0100L), Array(0L)),                             // 0x01 above a zero byte
      (Array(0x8000L), Array(0L)),                             // 0x80 above a zero byte
      (Array(-1L), Array(0L)),                                 // no lanes agree
      (Array(0x7F80017F00FF0100L), Array(0x8080000000FF0000L)),
      (Array(1L, 2L), Array(1L)))                              // length mismatch
    edges.foreach { case (a, b) =>
      assert(ByteLaneAgree.compute(arr(a), arr(b)) === naive(a, b), s"${a.toSeq}/${b.toSeq}")
    }
    val genLongs: Gen[Array[Long]] =
      Gen.chooseNum(0, 10).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf(
          Gen.chooseNum(Long.MinValue, Long.MaxValue),
          Gen.oneOf(0L, -1L, 0x0101010101010101L, 0x8080808080808080L,
            0x00FF00FF00FF00FFL))).map(_.toArray))
    samples(Gen.zip(genLongs, genLongs), 300).foreach { case (a, b) =>
      assert(ByteLaneAgree.compute(arr(a), arr(b)) === naive(a, b))
      // mutate one random byte of a shared array: agreement drops by
      // exactly 0 or 1 lanes
      if (a.nonEmpty) {
        val full = ByteLaneAgree.compute(arr(a), arr(a))
        assert(full === a.length * 8)
        val m = a.clone(); m(0) = m(0) ^ 0x10L
        assert(ByteLaneAgree.compute(arr(a), arr(m)) === full - 1)
      }
    }
  }

  test("ByteStride equals the per-element reference on random payloads") {
    val genBytes: Gen[Array[Byte]] =
      Gen.chooseNum(0, 64).flatMap(n =>
        Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte)).map(_.toArray))
    samples(genBytes, 200).foreach { bytes =>
      for (k <- Seq(1, 2, 4, 7)) {
        val expected = bytes.zipWithIndex.collect { case (b, i) if i % k == 0 => b }
        assert(ByteStride.compute(bytes, k).toSeq === expected.toSeq,
          s"stride $k over ${bytes.length} bytes")
      }
    }
  }
}
