package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.LangId
import graft.util.{Q, Tables}

/** Text-analysis operators for a training-data pipeline over `documents`:
  * token counting, quality scoring, language id, fingerprinting. All pure
  * built-in expressions (codegen'd, no UDFs) so they run at scan speed and
  * mirror 1:1 into the DuckDB oracle.
  */
object TextAnalysis {

  /** The whitespace class every tokenizing split uses — RE2's `\s` set,
    * spelled out. DuckDB's regex engine (RE2) defines `\s` as
    * [ \t\n\f\r]; Java's additionally contains \x0B (vertical tab), so a
    * literal `\s+` on both sides silently diverges the moment a corpus
    * byte is VT. The explicit class is engine-neutral: the oracle keeps
    * its `\s+` (identical to this set under RE2) and the Spark side pins
    * the same five characters.
    */
  val wsRe = "[ \\t\\n\\f\\r]+"

  /** Whitespace tokens — shared with the dedup family. */
  def tokens(text: Column): Column = split(text, wsRe)

  /** BPE-ish subword count: letter runs, digit runs, or single symbols. */
  private val bpeIsh = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  /** Canonical normalization for fingerprints/exact dedup: lowercase, strip
    * non-alphanumerics, collapse whitespace. One compiled byte walk
    * ([[graft.functions.NormalizeText]]) — the two-regex expression form
    * it replaces was the sf1000 e2e probe's dominant CPU sink (18 of 32
    * workers inside java.util.regex during the verdict's fingerprint
    * scan). Bit-identical by construction and property-pinned; callers
    * must have TextFunctions registered (every query builder does).
    */
  def normalize(text: Column): Column =
    graft.functions.TextFunctions.normalizeText(text)

  private[graft] val normalizeSql =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"

  /** The q_text_quality keep gate as one boolean expression — shared with
    * the curation verdict so the two can never drift. False for null/empty
    * text (the query filters those; the verdict must decide on every doc).
    */
  def qualityGate(text: Column): Column = {
    val toks = tokens(text)
    val nChars = length(text)
    val punctRatio = regexp_count(text, lit("[.,;:!?]")) * lit(1.0) / nChars
    val ttr = size(array_distinct(toks)) * lit(1.0) / size(toks)
    when(text.isNull || nChars === 0, lit(false))
      .otherwise(size(toks).between(5, 100000) && punctRatio < 0.2 && ttr > 0.1)
  }

  private[graft] val qualityGateSql =
    """(CASE WHEN text IS NULL OR length(text) = 0 THEN false ELSE
         (len(string_split_regex(text, '\s+')) BETWEEN 5 AND 100000)
         AND len(regexp_extract_all(text, '[.,;:!?]')) * 1.0 / length(text) < 0.2
         AND len(list_distinct(string_split_regex(text, '\s+'))) * 1.0
             / len(string_split_regex(text, '\s+')) > 0.1 END)"""

  /** Token counts: whitespace tokens, distinct types, BPE-ish subwords. */
  val q_text_tokens: Q = Q(
    "q_text_tokens",
    Some(s"""
      SELECT doc_id,
             len(string_split_regex(text, '\\s+')) AS n_tokens,
             len(list_distinct(string_split_regex(text, '\\s+'))) AS n_types,
             len(regexp_extract_all(text, '$bpeIsh')) AS n_subwords,
             length(text) AS n_chars_measured
      FROM documents
      ORDER BY doc_id
    """),
  ) { (s, d) =>
    val toks = tokens(col("text"))
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        size(toks).as("n_tokens"),
        size(array_distinct(toks)).as("n_types"),
        regexp_count(col("text"), lit(bpeIsh)).as("n_subwords"),
        length(col("text")).as("n_chars_measured"),
      )
      .orderBy("doc_id")
  }

  /** Quality scoring: structural ratios a pretraining filter would gate on.
    * All ratios are int/int double divisions — bitwise identical on both
    * engines.
    */
  val q_text_quality: Q = Q(
    "q_text_quality",
    Some("""
      WITH t AS (
        SELECT doc_id, text,
               string_split_regex(text, '\s+') AS toks,
               length(text) AS n_chars
        FROM documents)
      SELECT doc_id,
             n_chars,
             len(regexp_extract_all(text, '[.,;:!?]')) * 1.0 / n_chars AS punct_ratio,
             len(list_intersect(toks,
                 ['the','and','is','of','to','in','this','that','for','with']))
               * 1.0 / len(toks) AS stopword_ratio,
             len(list_distinct(toks)) * 1.0 / len(toks) AS type_token_ratio,
             (length(replace(text, ' ', '')) * 1.0) / len(toks) AS avg_token_len,
             (len(toks) BETWEEN 5 AND 100000)
               AND len(regexp_extract_all(text, '[.,;:!?]')) * 1.0 / n_chars < 0.2
               AND len(list_distinct(toks)) * 1.0 / len(toks) > 0.1 AS passes_gate
      FROM t
      WHERE n_chars > 0
      ORDER BY doc_id
    """),
  ) { (s, d) =>
    val toks = tokens(col("text"))
    val nChars = length(col("text"))
    val punctRatio = regexp_count(col("text"), lit("[.,;:!?]")) * lit(1.0) / nChars
    val ttr = size(array_distinct(toks)) * lit(1.0) / size(toks)
    Tables.documents(s, d)
      .filter(length(col("text")) > 0)
      .select(
        col("doc_id"),
        nChars.as("n_chars"),
        punctRatio.as("punct_ratio"),
        (size(array_intersect(toks, lit(LangId.stopwords("en").toArray))) * lit(1.0)
          / size(toks)).as("stopword_ratio"),
        ttr.as("type_token_ratio"),
        (length(regexp_replace(col("text"), " ", "")) * lit(1.0) / size(toks))
          .as("avg_token_len"),
        qualityGate(col("text")).as("passes_gate"),
      )
      .orderBy("doc_id")
  }

  /** Language identification vs. the labeled column (accuracy measurable
    * downstream; the heuristic itself is the deterministic replacement for
    * the reference's langdetect — SURVEY §2.7 F6).
    */
  val q_text_langid: Q = Q(
    "q_text_langid",
    Some(s"""
      SELECT doc_id, lang,
             ${LangId.duckDbSql("text")} AS lang_pred,
             lang = ${LangId.duckDbSql("text")} AS lang_match
      FROM documents
      ORDER BY doc_id
    """),
  ) { (s, d) =>
    // one native classifier node per row (LangId.langId)
    Tables.documents(s, d).select("doc_id", "lang", "text")
      .withColumn("lang_pred", LangId.langId(col("text")))
      .select(
        col("doc_id"), col("lang"), col("lang_pred"),
        (col("lang") === col("lang_pred")).as("lang_match"))
      .orderBy("doc_id")
  }

  /** Document fingerprinting: md5 of normalized content — the exact-dedup
    * key. (A non-cryptographic 64-bit variant via xxhash64 backs the
    * dedup/minhash family; not oracle-expressible, see graft.dedup.)
    */
  val q_text_fingerprint: Q = Q(
    "q_text_fingerprint",
    Some(s"""
      SELECT doc_id, md5($normalizeSql) AS fingerprint
      FROM documents
      ORDER BY doc_id
    """),
  ) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), md5(normalize(col("text")).cast(BinaryType)).as("fingerprint"))
      .orderBy("doc_id")
  }

  /** Corpus vocabulary: global token frequencies, top-50. The explode →
    * groupBy plan partial-aggregates map-side, so the shuffle carries one
    * row per distinct token per partition — corpus-size-independent for a
    * bounded vocabulary. Deterministic under ties via the (count, token)
    * total order.
    */
  val q_text_vocab: Q = Q(
    "q_text_vocab",
    Some("""
      SELECT token, COUNT(*) AS freq
      FROM (SELECT unnest(string_split_regex(lower(text), '\s+')) AS token
            FROM documents)
      WHERE token <> ''
      GROUP BY token
      ORDER BY freq DESC, token
      LIMIT 50
    """),
  ) { (s, d) =>
    Tables.documents(s, d)
      .select(explode_outer(split(lower(col("text")), wsRe)).as("token"))
      .filter(col("token").isNotNull && col("token") =!= "")
      .groupBy("token")
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token"))
      .limit(50)
  }

  /** PII-style redaction (training-data scrubbing): emails, URLs, and long
    * digit runs replaced with typed placeholders. Patterns stay inside the
    * RE2 ∩ Java-regex common dialect so both engines rewrite identically.
    */
  val q_text_redact: Q = Q(
    "q_text_redact",
    Some("""
      SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               'https?://[^ ]+', '<URL>', 'g'),
               '[0-9]{6,}', '<NUM>', 'g') AS redacted,
             length(text) - length(regexp_replace(regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '', 'g'),
               'https?://[^ ]+', '', 'g'),
               '[0-9]{6,}', '', 'g')) AS n_redacted_chars
      FROM documents
      ORDER BY doc_id
    """),
  ) { (s, d) =>
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val url = "https?://[^ ]+"
    val num = "[0-9]{6,}"
    def scrub(c: Column, repl: String => String): Column =
      regexp_replace(regexp_replace(regexp_replace(c,
        email, repl("EMAIL")), url, repl("URL")), num, repl("NUM"))
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        scrub(col("text"), t => s"<$t>").as("redacted"),
        (length(col("text")) - length(scrub(col("text"), _ => "")))
          .as("n_redacted_chars"),
      )
      .orderBy("doc_id")
  }

  /** TF-IDF keyword extraction: top-5 tokens per document by smoothed
    * tf·idf (idf = ln((N+1)/(df+1)) + 1). The document-frequency table is
    * vocabulary-sized, so it broadcasts; the corpus size N is a 1-row agg
    * cross-joined in (a literal after AQE). ln on doubles is correctly
    * rounded on both JVMs and libm, and ties (equal tf/df) break on the
    * token string — so the top-5 cut is deterministic across engines.
    */
  val q_text_tfidf: Q = Q(
    "q_text_tfidf",
    Some("""
      WITH tok AS (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS token
        FROM documents
      ), tfr AS (
        SELECT doc_id, token, COUNT(*) AS tf FROM tok WHERE token <> ''
        GROUP BY doc_id, token
      ), dfr AS (
        SELECT token, COUNT(*) AS df FROM tfr GROUP BY token
      ), nr AS (SELECT COUNT(*) AS n FROM documents)
      SELECT doc_id, token, tf, df,
             tf * (ln((n + 1.0) / (df + 1.0)) + 1.0) AS tfidf
      FROM tfr JOIN dfr USING (token) CROSS JOIN nr
      QUALIFY row_number() OVER (PARTITION BY doc_id
                                 ORDER BY tfidf DESC, token) <= 5
      ORDER BY doc_id, token
    """),
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val tok = docs
      .select(col("doc_id"), explode_outer(split(lower(col("text")), wsRe)).as("token"))
      .filter(col("token").isNotNull && col("token") =!= "")
    // tf feeds both the df aggregation and the final join — localCheckpoint
    // materializes the tokenize+count stage exactly once and hands the
    // blocks to the ContextCleaner (an owner-less persist would leak a
    // CacheManager entry per input plan, the round-6 dedup finding).
    val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    tf.join(broadcast(df), "token")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf") * (log((col("n") + lit(1.0)) / (col("df") + lit(1.0))) + lit(1.0)))
      .withColumn("rn",
        row_number().over(Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("token"))))
      .filter(col("rn") <= 5)
      .select("doc_id", "token", "tf", "df", "tfidf")
      .orderBy("doc_id", "token")
  }

  /** Bigram language-model scoring — the perplexity-style quality signal:
    * avg log P(w_i | w_{i-1}) per document under add-one smoothing, with
    * corpus-level bigram/unigram tables (vocabulary-sized → broadcast; at
    * web scale the same joins shuffle on the token keys). The per-document
    * sum of log-probs goes through exact DECIMAL: double sums merge in
    * nondeterministic partition order, and ln itself is correctly rounded
    * on both engines (established by q_text_tfidf).
    */
  val q_text_bigram_lm: Q = Q(
    "q_text_bigram_lm",
    Some("""
      WITH f AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS toks
        FROM documents
      ), t AS (
        SELECT doc_id, unnest(toks) AS w FROM f
      ), bb AS (
        SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2
        FROM (SELECT doc_id,
                     unnest(list_transform(range(1, greatest(len(toks), 1)),
                       i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS bg
              FROM f)
      ), uni AS (SELECT w, COUNT(*) AS cu FROM t GROUP BY w),
      big AS (SELECT w1, w2, COUNT(*) AS cb FROM bb GROUP BY w1, w2),
      v AS (SELECT COUNT(*) AS v FROM uni)
      SELECT bb.doc_id,
             COUNT(*) AS n_bigrams,
             CAST(SUM(CAST(ln((cb + 1.0) / (cu + v)) AS DECIMAL(20,12))) AS DOUBLE)
               / COUNT(*) AS avg_logp
      FROM bb JOIN big USING (w1, w2) JOIN uni ON bb.w1 = uni.w CROSS JOIN v
      GROUP BY bb.doc_id
      ORDER BY doc_id
    """),
  ) { (s, d) =>
    val bgType = ArrayType(StructType(Seq(
      StructField("w1", StringType), StructField("w2", StringType))))
    // balanced + materialized ONCE (r17): the token frame feeds FOUR
    // consumers (unigram counts, bigram counts, vocabulary size via uni,
    // and the scoring join), and each broadcast build re-ran the
    // tokenize+explode pipeline as its own single-task job (measured: three
    // serial ~1.7 s jobs at sf0.1). One balanced checkpoint tokenizes at
    // core parallelism exactly once; every consumer reads blocks.
    val f = graft.util.Balance.ifNarrow(Tables.documents(s, d), col("doc_id"))
      // bound toks projection: no CSE through lambda bodies
      .select(col("doc_id"),
        filter(split(lower(col("text")), wsRe), t => t =!= "").as("toks"))
      // lazy (r18): the first consumer (the unigram aggregate) is the
      // materializing action — eager paid a dedicated tokenize job plus
      // its driver barrier for nothing
      .localCheckpoint(eager = false)
    val t = f.select(col("doc_id"), explode_outer(col("toks")).as("w"))
      .filter(col("w").isNotNull)
    // guard size >= 2: sequence(1, 0) would count DOWN, not produce empty
    val b = f.select(col("doc_id"), explode_outer(
        when(size(col("toks")) >= 2,
          transform(sequence(lit(1), size(col("toks")) - 1), i =>
            struct(element_at(col("toks"), i).as("w1"),
              element_at(col("toks"), i + 1).as("w2"))))
          .otherwise(array().cast(bgType))).as("bg"))
      .filter(col("bg").isNotNull)
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    // lazy checkpoint (r17): uni feeds both its own broadcast build and the
    // vocabulary-size aggregate — one aggregation, two readers
    val uni = t.groupBy(col("w").as("w1")).agg(count(lit(1)).as("cu"))
      .localCheckpoint(eager = false)
    val big = b.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val v = uni.agg(count(lit(1)).as("v"))
    b.join(broadcast(big), Seq("w1", "w2"))
      .join(broadcast(uni), Seq("w1"))
      .crossJoin(broadcast(v))
      .withColumn("logp", log((col("cb") + lit(1.0)) / (col("cu") + col("v"))))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        (sum(col("logp").cast(DecimalType(20, 12))).cast(DoubleType) / count(lit(1)))
          .as("avg_logp"),
      )
      .orderBy("doc_id")
  }

  /** Repetition-based quality gates in the style of the Gopher rules (Rae
    * et al. 2021, "Scaling Language Models" — public paper): fraction of
    * tokens taken by the most frequent unigram/bigram, and the singleton
    * (hapax) fraction. Highly repetitive machine-generated text fails these
    * even when the simple ratio gates (q_text_quality) pass. Plan shape:
    * scan-speed — the statistics are document-local, so a native per-row
    * kernel ([[graft.functions.RepetitionStats]]) computes them with ZERO
    * shuffles; no corpus-global state at any scale. All fractions are int/int double
    * divisions (exact on both engines); docs with <2 tokens emit a null
    * bigram fraction via the left join on both sides.
    */
  val q_text_gopher: Q = Q(
    "q_text_gopher",
    Some("""
      WITH f AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS toks
        FROM documents
      ), t AS (
        SELECT doc_id, unnest(toks) AS w FROM f
      ), uni AS (
        SELECT doc_id, w, COUNT(*) AS c FROM t GROUP BY doc_id, w
      ), us AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, MAX(c) AS top_uni,
               CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
        FROM uni GROUP BY doc_id
      ), bb AS (
        SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2
        FROM (SELECT doc_id,
                     unnest(list_transform(range(1, greatest(len(toks), 1)),
                       i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS bg
              FROM f)
      ), big AS (
        SELECT doc_id, w1, w2, COUNT(*) AS c FROM bb GROUP BY doc_id, w1, w2
      ), bs AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams, MAX(c) AS top_big
        FROM big GROUP BY doc_id
      )
      SELECT us.doc_id, us.n_tokens,
             top_uni * 1.0 / n_tokens AS top_unigram_frac,
             n_hapax * 1.0 / n_tokens AS hapax_frac,
             top_big * 1.0 / n_bigrams AS top_bigram_frac,
             top_uni * 1.0 / n_tokens <= 0.2
               AND coalesce(top_big * 1.0 / n_bigrams, 0.0) <= 0.18
               AND n_hapax * 1.0 / n_tokens >= 0.1 AS passes_repetition_gate
      FROM us LEFT JOIN bs ON us.doc_id = bs.doc_id
      ORDER BY us.doc_id
    """),
  ) { (s, d) =>
    repetitionGates(Tables.documents(s, d)).orderBy("doc_id")
  }

  /** The Gopher repetition frame (doc_id, n_tokens, fracs, gate flag) —
    * q_text_gopher's body, shared with the curation verdict. Docs with zero
    * non-empty tokens produce no row (callers left-join and default the
    * gate to false).
    */
  def repetitionGates(docs: DataFrame): DataFrame = {
    // the statistics are document-local: one compiled pass per row (native
    // kernel, graft.functions.RepetitionStats) replaces the explode →
    // groupBy(doc_id, gram) → groupBy(doc_id) cascade that shuffled the
    // whole token stream twice — zero shuffles at any corpus size. Null
    // kernel result = zero tokens = no row in the groupBy formulation;
    // null bigram fields mirror the bigram side's empty left join.
    docs
      // bound toks projection: no CSE through lambda bodies
      .select(col("doc_id"),
        filter(split(lower(col("text")), wsRe), t => t =!= "").as("toks"))
      .select(col("doc_id"),
        graft.functions.TextFunctions.repetitionStats(col("toks")).as("st"))
      .filter(col("st").isNotNull)
      .select(col("doc_id"), col("st.n_tokens").as("n_tokens"),
        col("st.top_uni").as("top_uni"), col("st.n_hapax").as("n_hapax"),
        col("st.n_bigrams").as("n_bigrams"), col("st.top_big").as("top_big"))
      .select(
        col("doc_id"), col("n_tokens"),
        (col("top_uni") * lit(1.0) / col("n_tokens")).as("top_unigram_frac"),
        (col("n_hapax") * lit(1.0) / col("n_tokens")).as("hapax_frac"),
        (col("top_big") * lit(1.0) / col("n_bigrams")).as("top_bigram_frac"),
        (col("top_uni") * lit(1.0) / col("n_tokens") <= 0.2
          && coalesce(col("top_big") * lit(1.0) / col("n_bigrams"), lit(0.0)) <= 0.18
          && col("n_hapax") * lit(1.0) / col("n_tokens") >= 0.1)
          .as("passes_repetition_gate"),
      )
  }

  /** Context-window chunking — the training/RAG prep step that splits every
    * document into OVERLAPPING token windows (size 50, stride 40 → 10-token
    * overlap so no span is ever cut without context). Chunk count is
    * ceil((n-overlap)/stride) with a single chunk for short docs, so the
    * trailing window always reaches the last token and no fully-redundant
    * tail chunk is emitted. Emits per chunk the token count and an md5 over
    * the joined text (the key chunk-level dedup runs on). Scan-speed
    * expressions; the explode fans out by chunk count, linear in corpus
    * token volume at any scale.
    */
  val q_text_chunks: Q = Q(
    "q_text_chunks",
    Some("""
      WITH f AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS toks
        FROM documents
      ), c AS (
        SELECT doc_id, toks,
               CAST(CASE WHEN len(toks) <= 10 THEN 1
                    ELSE ceil((len(toks) - 10) / 40.0) END AS INT) AS nchunks
        FROM f WHERE len(toks) > 0
      )
      SELECT doc_id, CAST(i AS INT) AS chunk_idx,
             CAST(len(list_slice(toks, CAST(i AS INT) * 40 + 1,
                                 CAST(i AS INT) * 40 + 50)) AS INT) AS n_chunk_tokens,
             md5(array_to_string(list_slice(toks, CAST(i AS INT) * 40 + 1,
                                 CAST(i AS INT) * 40 + 50), ' ')) AS chunk_md5
      FROM c, unnest(range(nchunks)) AS t(i)
      ORDER BY doc_id, chunk_idx
    """),
  ) { (s, d) =>
    val f = Tables.documents(s, d)
      // bound toks projection: no CSE through lambda bodies
      .select(col("doc_id"),
        filter(split(lower(col("text")), wsRe), t => t =!= "").as("toks"))
      .filter(size(col("toks")) > 0)
    val nchunks = when(size(col("toks")) <= 10, 1)
      .otherwise(ceil((size(col("toks")) - 10) / lit(40.0))).cast(IntegerType)
    val chunk = slice(col("toks"), col("i") * 40 + 1, lit(50))
    f.select(col("doc_id"), col("toks"),
        explode_outer(sequence(lit(0), nchunks - 1)).as("i"))
      .filter(col("i").isNotNull)
      .select(
        col("doc_id"), col("i").as("chunk_idx"),
        size(chunk).as("n_chunk_tokens"),
        md5(concat_ws(" ", chunk).cast(BinaryType)).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Rolling-hash winnowing fingerprints (copy-detection selection over
    * every document; rows-only — the Rabin-Karp + winnow selection is not
    * SQL-expressible; guarantees pinned in WinnowSpec). k=8 byte-grams,
    * window 16: one fingerprint at least every 16 gram positions.
    */
  val q_text_winnow: Q = Q(
    "q_text_winnow",
    Some(graft.functions.Winnow.countOracleSql(normalizeSql, 8, 16)),
  ) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.WinnowFunctions.winnow(normalize(col("text")), 8, 16).as("fp"))
      .select(col("doc_id"), size(col("fp")).as("n_fingerprints"))
      .orderBy("doc_id")
  }

  /** Inter-document boilerplate ratio — the RefinedWeb/CCNet-style signal
    * that a document is mostly TEMPLATE: the fraction of its distinct word
    * 3-shingles that are corpus-common (document frequency > 2). Unlike the
    * Gopher gates (intra-document repetition) this measures repetition
    * ACROSS documents, and unlike near-dup joins it fires on documents
    * assembled from many different common fragments that are near-dup to
    * nothing in particular.
    *
    * Scale shape: reuses the dedup family's 64-bit hashed shingle postings
    * (never strings on the wire); df is one partial-aggregated groupBy over
    * the posting stream, joined back onto the same stream — two linear
    * shuffles keyed by shingle hash, then one by doc_id. The df join is
    * hash-keyed on both sides, so AQE can pick shuffle-hash or broadcast as
    * the vocabulary size dictates.
    */
  val q_text_boilerplate: Q = Q(
    "q_text_boilerplate",
    Some(s"""
      WITH s AS (
        SELECT doc_id, ${graft.dedup.Dedup.shinglesSql} AS sh FROM documents
      ), u AS (
        SELECT doc_id, unnest(sh) AS g FROM s WHERE len(sh) > 0
      ), df AS (
        SELECT g, count(*) AS df FROM u GROUP BY g
      ), j AS (
        SELECT u.doc_id, df.df FROM u JOIN df USING (g)
      ), agg AS (
        SELECT doc_id,
               count(*) AS n_shingles,
               CAST(sum(CASE WHEN df > 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_common
        FROM j GROUP BY doc_id
      )
      SELECT doc_id, n_shingles, n_common,
             n_common / n_shingles AS boilerplate_ratio,
             n_common / n_shingles >= CAST(0.5 AS DOUBLE) AS mostly_boilerplate
      FROM agg
      ORDER BY doc_id
    """),
  ) { (s, d) =>
    val posting = graft.dedup.Dedup.hashedPosting(
      graft.dedup.Dedup.hashedShingleSets(Tables.documents(s, d)))
    val dfTab = posting.groupBy("h").agg(count(lit(1)).as("df"))
    posting
      .join(dfTab, "h")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("df") > 2, 1L).otherwise(0L)).as("n_common"))
      .withColumn("boilerplate_ratio", col("n_common") / col("n_shingles"))
      .withColumn("mostly_boilerplate", col("boilerplate_ratio") >= 0.5)
      .orderBy("doc_id")
  }

  /** BM25 ranked retrieval — the search-side consumer of the same corpus
    * statistics TF-IDF maintains (tf, df, doc length): score every document
    * against a fixed conjunctive keyword query and keep the top 20.
    * Okapi BM25 with k1=1.2, b=0.75; idf = ln((N-df+0.5)/(df+0.5)+1)
    * (the +1 keeps it positive for high-df terms, the Lucene convention).
    *
    * Determinism: each (doc, term) score is one double expression tree built
    * identically on both engines (int inputs, CAST-pinned double literals,
    * ln correctly rounded — established by q_text_tfidf); the per-document
    * sum routes through DECIMAL(20,12) because double sums merge in
    * partition order (the q_text_bigram_lm pattern). Scale shape: the tf
    * aggregation prunes to the query terms BEFORE grouping (scan-speed
    * filter), df and the two scalars broadcast, and the final top-k is a
    * TakeOrderedAndProject — never a full sort.
    */
  val q_text_bm25: Q = Q(
    "q_text_bm25",
    Some("""
      WITH f AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS toks
        FROM documents
      ), dl AS (
        SELECT doc_id, len(toks) AS dl FROM f
      ), t AS (
        SELECT doc_id, unnest(toks) AS w FROM f
      ), tf AS (
        SELECT doc_id, w, COUNT(*) AS tf FROM t
        WHERE w IN ('join', 'window', 'hash') GROUP BY doc_id, w
      ), df AS (
        SELECT w, COUNT(*) AS df FROM tf GROUP BY w
      ), n AS (SELECT COUNT(*) AS n FROM f),
      ad AS (SELECT avg(dl) AS avgdl FROM dl),
      sc AS (
        SELECT tf.doc_id,
               ln((n.n - df.df + CAST(0.5 AS DOUBLE))
                    / (df.df + CAST(0.5 AS DOUBLE)) + 1)
                 * (tf.tf * CAST(2.2 AS DOUBLE)
                    / (tf.tf + CAST(1.2 AS DOUBLE)
                       * (CAST(0.25 AS DOUBLE)
                          + CAST(0.75 AS DOUBLE) * dl.dl / ad.avgdl))) AS s
        FROM tf JOIN dl USING (doc_id) JOIN df USING (w) CROSS JOIN n CROSS JOIN ad
      )
      SELECT doc_id, CAST(SUM(CAST(s AS DECIMAL(20,12))) AS DOUBLE) AS bm25
      FROM sc GROUP BY doc_id
      ORDER BY bm25 DESC, doc_id
      LIMIT 20
    """),
  ) { (s, d) =>
    val queryTerms = Seq("join", "window", "hash")
    val f = Tables.documents(s, d)
      .select(col("doc_id"),
        filter(split(lower(col("text")), wsRe), t => t =!= "").as("toks"))
    val dl = f.select(col("doc_id"), size(col("toks")).cast(LongType).as("dl"))
    val tf = f
      .select(col("doc_id"), explode_outer(col("toks")).as("w"))
      .filter(col("w").isin(queryTerms: _*)) // prune before the shuffle
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val dfTab = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val n = f.agg(count(lit(1)).as("n"))
    val ad = dl.agg(avg(col("dl")).as("avgdl"))
    val score =
      log((col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + 1) *
        (col("tf") * lit(2.2) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
    tf
      .join(dl, "doc_id")
      .join(broadcast(dfTab), "w")
      .crossJoin(broadcast(n))
      .crossJoin(broadcast(ad))
      .select(col("doc_id"), score.cast(DecimalType(20, 12)).as("sdec"))
      .groupBy("doc_id")
      .agg(sum(col("sdec")).cast(DoubleType).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(20)
  }

  /** Reciprocal-rank fusion — the standard hybrid-retrieval merge
    * (Cormack et al. 2009): combine two rankings of the same corpus by
    * summing 1/(60 + rank) per list, robust to either list's score scale.
    * Here BM25 (semantic-ish lexical weighting) fuses with raw query-term
    * frequency (the ranking a plain inverted index gives); at 100 TB the
    * second list is typically an ANN ranking — the fusion step is
    * unchanged. Scores ride integer fixed-point (1e12 div (60+rank) —
    * truncating, non-negative, exact integer sums), so fused order is
    * engine- and partition-invariant where float RRF could tie-break
    * differently at the 17th digit. Scale shape: each list is a
    * TakeOrderedAndProject top-k; the rank window runs on k rows (never the
    * corpus); the fusion is a k-row full-outer join and a top-10 take.
    */
  val q_text_rrf: Q = Q(
    "q_text_rrf",
    Some("""
      WITH f AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS toks
        FROM documents
      ), dl AS (
        SELECT doc_id, len(toks) AS dl FROM f
      ), t AS (
        SELECT doc_id, unnest(toks) AS w FROM f
      ), tf AS (
        SELECT doc_id, w, COUNT(*) AS tf FROM t
        WHERE w IN ('join', 'window', 'hash') GROUP BY doc_id, w
      ), df AS (
        SELECT w, COUNT(*) AS df FROM tf GROUP BY w
      ), n AS (SELECT COUNT(*) AS n FROM f),
      ad AS (SELECT avg(dl) AS avgdl FROM dl),
      sc AS (
        SELECT tf.doc_id,
               ln((n.n - df.df + CAST(0.5 AS DOUBLE))
                    / (df.df + CAST(0.5 AS DOUBLE)) + 1)
                 * (tf.tf * CAST(2.2 AS DOUBLE)
                    / (tf.tf + CAST(1.2 AS DOUBLE)
                       * (CAST(0.25 AS DOUBLE)
                          + CAST(0.75 AS DOUBLE) * dl.dl / ad.avgdl))) AS s
        FROM tf JOIN dl USING (doc_id) JOIN df USING (w) CROSS JOIN n CROSS JOIN ad
      ), b AS (
        SELECT doc_id, CAST(SUM(CAST(s AS DECIMAL(20,12))) AS DOUBLE) AS bm25
        FROM sc GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20
      ), r1 AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS bm25_rank
        FROM b
      ), qt AS (
        SELECT doc_id, SUM(tf) AS qtf FROM tf
        GROUP BY doc_id ORDER BY qtf DESC, doc_id LIMIT 20
      ), r2 AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY qtf DESC, doc_id) AS lex_rank
        FROM qt
      )
      SELECT COALESCE(r1.doc_id, r2.doc_id) AS doc_id,
             r1.bm25_rank AS bm25_rank, r2.lex_rank AS lex_rank,
             COALESCE(1000000000000 // (60 + r1.bm25_rank), 0)
               + COALESCE(1000000000000 // (60 + r2.lex_rank), 0) AS rrf_fp
      FROM r1 FULL JOIN r2 ON r1.doc_id = r2.doc_id
      ORDER BY rrf_fp DESC, doc_id LIMIT 10
    """),
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val queryTerms = Seq("join", "window", "hash")
    val f = Tables.documents(s, d)
      .select(col("doc_id"),
        filter(split(lower(col("text")), wsRe), t => t =!= "").as("toks"))
    val dl = f.select(col("doc_id"), size(col("toks")).cast(LongType).as("dl"))
    val tf = f
      .select(col("doc_id"), explode_outer(col("toks")).as("w"))
      .filter(col("w").isin(queryTerms: _*))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val dfTab = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val n = f.agg(count(lit(1)).as("n"))
    val ad = dl.agg(avg(col("dl")).as("avgdl"))
    val score =
      log((col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + 1) *
        (col("tf") * lit(2.2) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
    // each top-20 take is a TakeOrderedAndProject; the rank window then runs
    // on 20 rows (single tiny partition by construction, never the corpus)
    val b = tf
      .join(dl, "doc_id")
      .join(broadcast(dfTab), "w")
      .crossJoin(broadcast(n))
      .crossJoin(broadcast(ad))
      .select(col("doc_id"), score.cast(DecimalType(20, 12)).as("sdec"))
      .groupBy("doc_id")
      .agg(sum(col("sdec")).cast(DoubleType).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id")).limit(20)
    val r1 = b.withColumn("bm25_rank",
      row_number().over(Window.orderBy(col("bm25").desc, col("doc_id")))
        .cast(LongType))
      .select("doc_id", "bm25_rank")
    val qt = tf.groupBy("doc_id").agg(sum("tf").as("qtf"))
      .orderBy(col("qtf").desc, col("doc_id")).limit(20)
    val r2 = qt.withColumn("lex_rank",
      row_number().over(Window.orderBy(col("qtf").desc, col("doc_id")))
        .cast(LongType))
      .select("doc_id", "lex_rank")
    r1.join(r2, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("bm25_rank"), col("lex_rank"),
        (coalesce(expr("1000000000000 div (60 + bm25_rank)"), lit(0L))
          + coalesce(expr("1000000000000 div (60 + lex_rank)"), lit(0L)))
          .as("rrf_fp"))
      .orderBy(col("rrf_fp").desc, col("doc_id")).limit(10)
  }

  def all: Seq[Q] = Seq(
    q_text_tokens, q_text_quality, q_text_langid, q_text_fingerprint,
    q_text_vocab, q_text_redact, q_text_tfidf, q_text_bigram_lm,
    q_text_gopher, q_text_winnow, q_text_chunks, q_text_boilerplate,
    q_text_bm25, q_text_rrf, Bpe.q_text_bpe)
}
