package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

import graft.dedup.Dedup
import graft.functions.LangId
import graft.text.{Bpe, TextAnalysis}
import graft.util.{Q, Tables}

/** The end-to-end curation decision — what a training-data pipeline
  * actually RUNS over a crawl before tokenization: every per-document
  * gate this library implements, fused into one keep/drop verdict with a
  * deterministic reason code. Mirrors the composition the curation
  * literature describes (Gopher/RefinedWeb-style filter chains): exact
  * dedup keeps only canonical documents, benchmark decontamination drops
  * eval-set leaks, then language / structural-quality / repetition gates.
  *
  * Scale shape: every gate is an independent doc_id-keyed frame — a
  * fingerprint groupBy, a broadcast semi-join, and three scan-speed or
  * two-shuffle aggregations — joined back on doc_id. At 100 TB that is a
  * handful of linear shuffles over (doc_id, flag) pairs, no gate ever
  * materializes more than one row per document, and AQE plans the
  * verdict joins as broadcasts once the flag frames prove small. The
  * reason code uses a fixed priority (duplicate > contaminated > language
  * > quality > repetition) so the audit is deterministic even when a
  * document fails several gates.
  */
object Curation {

  val q_curate_verdict: Q = Q(
    "q_curate_verdict",
    Some(s"""
      WITH corpus AS (
        SELECT doc_id, text, n_chars FROM documents WHERE doc_id >= 20
      ), fp AS (
        SELECT doc_id, n_chars, md5(${TextAnalysis.normalizeSql}) AS f FROM corpus
      ), canon AS (
        SELECT f, doc_id AS canonical_id FROM (
          SELECT f, doc_id,
                 row_number() OVER (PARTITION BY f
                                    ORDER BY n_chars DESC, doc_id) AS rk
          FROM fp
        ) WHERE rk = 1
      ), dup AS (
        SELECT doc_id, doc_id <> canonical_id AS is_duplicate
        FROM fp JOIN canon USING (f)
      ), s AS (
        SELECT doc_id, ${Dedup.shinglesSql} AS sh FROM documents
      ), bench AS (
        SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id < 20
      ), cont AS (
        SELECT s.doc_id,
               EXISTS (SELECT 1 FROM bench, unnest(s.sh) AS t(g2) WHERE g2 = bench.g)
                 AS is_contaminated
        FROM s WHERE doc_id >= 20
      ), lang AS (
        SELECT doc_id,
               ${LangId.duckDbSql("text")} <> 'undetected' AS lang_ok
        FROM corpus
      ), qual AS (
        SELECT doc_id, ${TextAnalysis.qualityGateSql} AS quality_ok FROM corpus
      ), f2 AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks
        FROM corpus
      ), t2 AS (
        SELECT doc_id, unnest(toks) AS w FROM f2
      ), uni AS (
        SELECT doc_id, w, COUNT(*) AS c FROM t2 GROUP BY doc_id, w
      ), us AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, MAX(c) AS top_uni,
               CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
        FROM uni GROUP BY doc_id
      ), bb AS (
        SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2
        FROM (SELECT doc_id,
                     unnest(list_transform(range(1, greatest(len(toks), 1)),
                       i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS bg
              FROM f2)
      ), big AS (
        SELECT doc_id, w1, w2, COUNT(*) AS c FROM bb GROUP BY doc_id, w1, w2
      ), bs AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams, MAX(c) AS top_big
        FROM big GROUP BY doc_id
      ), gop AS (
        SELECT us.doc_id,
               top_uni * 1.0 / n_tokens <= 0.2
                 AND coalesce(top_big * 1.0 / n_bigrams, 0.0) <= 0.18
                 AND n_hapax * 1.0 / n_tokens >= 0.1 AS repetition_ok
        FROM us LEFT JOIN bs ON us.doc_id = bs.doc_id
      ), v AS (
        SELECT c.doc_id,
               coalesce(dup.is_duplicate, false) AS is_duplicate,
               coalesce(cont.is_contaminated, false) AS is_contaminated,
               coalesce(lang.lang_ok, false) AS lang_ok,
               coalesce(qual.quality_ok, false) AS quality_ok,
               coalesce(gop.repetition_ok, false) AS repetition_ok
        FROM corpus c
        LEFT JOIN dup ON c.doc_id = dup.doc_id
        LEFT JOIN cont ON c.doc_id = cont.doc_id
        LEFT JOIN lang ON c.doc_id = lang.doc_id
        LEFT JOIN qual ON c.doc_id = qual.doc_id
        LEFT JOIN gop ON c.doc_id = gop.doc_id
      )
      SELECT doc_id, is_duplicate, is_contaminated, lang_ok, quality_ok,
             repetition_ok,
             NOT is_duplicate AND NOT is_contaminated AND lang_ok
               AND quality_ok AND repetition_ok AS keep,
             CASE WHEN is_duplicate THEN 'duplicate'
                  WHEN is_contaminated THEN 'contaminated'
                  WHEN NOT lang_ok THEN 'language'
                  WHEN NOT quality_ok THEN 'quality'
                  WHEN NOT repetition_ok THEN 'repetition'
                  ELSE 'keep' END AS reason
      FROM v
      ORDER BY doc_id
    """),
  ) { (s, d) =>
    val docs = Tables.documents(s, d)
    val corpus = docs.filter(col("doc_id") >= 20).select("doc_id", "text", "n_chars")
    val bench = docs.filter(col("doc_id") < 20)
    verdictFrom(corpus, bench).orderBy("doc_id")
  }

  /** Verdict body shared by the oracle-exact gate and the LSH production
    * twin: everything but the duplicate gate is identical, so the two
    * verdicts differ only where their dedup evidence differs. `nearDup`
    * (a (doc_id, near_dup) frame) widens the duplicate gate with the LSH
    * twin's near-duplicate evidence; the exact-fingerprint gate is always
    * on and computed in the fused scan below.
    */
  private def verdictFrom(corpus: DataFrame, bench: DataFrame,
      nearDup: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // balance the corpus when the scan is narrower than the core count
    // (r18): the fused gate scan below runs four compute-dense kernels
    // (langid, quality, repetition, normalize+md5) per row, and at test SF
    // the single-row-group file ran it as ONE ~0.7-2 s task (profile job 36
    // of q_pipeline_e2e); the contamination shingle pass shares the same
    // fate. No-op above cores x maxPartitionBytes. All consumers are
    // row-local kernels or exact aggregates — partition-order-independent.
    val corpusB = graft.util.Balance.ifNarrow(corpus, col("doc_id"))
    // benchmark decontamination: broadcast shingle semi-join (Dedup)
    val cont = Dedup.contaminatedIds(corpusB, bench)
      .withColumn("is_contaminated", lit(true))
    // The three ROW-LOCAL gates — language id, structural quality,
    // repetition — AND the exact-dedup fingerprint fuse into ONE text
    // scan: each gate is a compiled per-row kernel/expression, and the
    // sf10 probe put a single full-text pass at 13–19 s, so the former
    // formulation (three gate frames + a separate fingerprint pass) paid
    // up to three avoidable corpus reads. Language id is the one native
    // classifier node (LangId.langId); the other formulas are
    // byte-identical to TextAnalysis.qualityGate / repetitionGates — the
    // repetition bound inlines repetitionGates' exact thresholds, with
    // kernel-null (zero tokens) folding to false exactly as the dropped
    // row did through the old left join.
    val st = graft.functions.TextFunctions.repetitionStats(
      filter(split(lower(col("text")), TextAnalysis.wsRe), t => t =!= ""))
    val repOk = st.isNotNull &&
      st.getField("top_uni") * lit(1.0) / st.getField("n_tokens") <= 0.2 &&
      coalesce(st.getField("top_big") * lit(1.0) / st.getField("n_bigrams"),
        lit(0.0)) <= 0.18 &&
      st.getField("n_hapax") * lit(1.0) / st.getField("n_tokens") >= 0.1
    val scanned = corpusB.select(
      col("doc_id"), col("n_chars"),
      md5(TextAnalysis.normalize(col("text")).cast(BinaryType)).as("f"),
      (LangId.langId(col("text")) =!= "undetected").as("lang_ok"),
      TextAnalysis.qualityGate(col("text")).as("quality_ok"),
      repOk.as("repetition_ok"))
    // Exact dedup gate: only the canonical copy of each normalized
    // fingerprint survives, selected by the SAME keep-longest policy
    // q_dedup_canonical ships (n_chars DESC, doc_id as the deterministic
    // tiebreak) so the two curation answers cannot drift. argmax via an
    // unordered max(struct) window over f: ONE shuffle of the small
    // (doc_id, f, flags) frame, no join-back — and, the point of the
    // fusion, no second pass over the text the scan above already read.
    val m = max(struct(col("n_chars").as("nc"), (-col("doc_id")).as("nid")))
      .over(Window.partitionBy("f"))
    val withDup = scanned
      .withColumn("exact_dup", col("doc_id") =!= -m.getField("nid"))
      .drop("f", "n_chars")
    val dup = nearDup match {
      case None => withDup.withColumn("is_duplicate", col("exact_dup"))
      case Some(nd) => withDup.join(nd, Seq("doc_id"), "left")
        .withColumn("is_duplicate",
          col("exact_dup") || coalesce(col("near_dup"), lit(false)))
    }
    dup
      .join(cont, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("is_duplicate"),
        coalesce(col("is_contaminated"), lit(false)).as("is_contaminated"),
        coalesce(col("lang_ok"), lit(false)).as("lang_ok"),
        coalesce(col("quality_ok"), lit(false)).as("quality_ok"),
        coalesce(col("repetition_ok"), lit(false)).as("repetition_ok"))
      .withColumn("keep",
        !col("is_duplicate") && !col("is_contaminated") && col("lang_ok")
          && col("quality_ok") && col("repetition_ok"))
      .withColumn("reason",
        when(col("is_duplicate"), "duplicate")
          .when(col("is_contaminated"), "contaminated")
          .when(!col("lang_ok"), "language")
          .when(!col("quality_ok"), "quality")
          .when(!col("repetition_ok"), "repetition")
          .otherwise("keep"))
    // UNSORTED body (r18): the presentation orderBy lives at the two
    // q_curate_verdict* call sites. The pipeline consumers only join or
    // filter this frame, yet q_pipeline_e2e_lsh's keep-set checkpoint
    // materializes whatever plan it is handed — WITH the sort that meant a
    // range exchange plus the range partitioner's sampling pass re-running
    // the verdict's top joins, all for an ordering the join-side consumer
    // cannot observe. (Inline consumers were already safe: EliminateSorts
    // drops a sort under a join — but a localCheckpoint is an action, not
    // an optimizer boundary the rule can see across.)
  }

  /** The 100 TB curation verdict: the duplicate gate additionally flags
    * NEAR-duplicates via the default sketch path (non-keep members of
    * bottom-k Jaccard clusters under the shared keep-longest policy),
    * unioned with the exact-fingerprint gate — which still catches
    * identical short texts whose shingle sets are empty and therefore
    * invisible to the sketch. Every other gate is byte-identical to
    * [[q_curate_verdict]]. Rows-only (sampled-prefix probes aren't
    * SQL-expressible); CurationSpec bounds the verdict-flip rate vs the
    * exact verdict and pins that every flip is duplicate-gate induced.
    */
  val q_curate_verdict_lsh: Q = Q("q_curate_verdict_lsh", None) { (s, d) =>
    val docs = Tables.documents(s, d)
    val corpus = docs.filter(col("doc_id") >= 20).select("doc_id", "text", "n_chars")
    val bench = docs.filter(col("doc_id") < 20)
    verdictFrom(corpus, bench, Some(Dedup.lshNonCanonicalIds(corpus)))
      .orderBy("doc_id")
  }

  /** The WHOLE pipeline as one oracle-checked query — what "a user could
    * run every query they run today" looks like end to end: curation
    * verdict (every gate) → keep set → leakage-safe cluster-keyed
    * train/val/test split over the KEPT docs → fixed-budget sequence
    * packing with real BPE token counts, reported per (split, source).
    * Each stage is an already-hash-green component (q_curate_verdict,
    * q_split_leakage_safe, q_pack_sequences) composed through the same
    * shared policy bodies, and the DuckDB oracle chains the same three
    * verified SQL bodies — so this pins that the COMPOSITION holds, not
    * just the parts. Scale shape: the union of its stages' shapes; the
    * LSH twins swap in exactly as they do stage-by-stage.
    */
  val q_pipeline_e2e: Q = Q(
    "q_pipeline_e2e",
    Some(s"""
      WITH RECURSIVE ${Bpe.replayCtes},
      corpus AS (
        SELECT doc_id, text, n_chars FROM documents WHERE doc_id >= 20
      ), fp AS (
        SELECT doc_id, n_chars, md5(${TextAnalysis.normalizeSql}) AS f FROM corpus
      ), canon AS (
        SELECT f, doc_id AS canonical_id FROM (
          SELECT f, doc_id,
                 row_number() OVER (PARTITION BY f
                                    ORDER BY n_chars DESC, doc_id) AS rk
          FROM fp
        ) WHERE rk = 1
      ), dup AS (
        SELECT doc_id, doc_id <> canonical_id AS is_duplicate
        FROM fp JOIN canon USING (f)
      ), s0 AS (
        SELECT doc_id, ${Dedup.shinglesSql} AS sh FROM documents
      ), bench AS (
        SELECT DISTINCT unnest(sh) AS g FROM s0 WHERE doc_id < 20
      ), cont AS (
        SELECT s0.doc_id,
               EXISTS (SELECT 1 FROM bench, unnest(s0.sh) AS t(g2) WHERE g2 = bench.g)
                 AS is_contaminated
        FROM s0 WHERE doc_id >= 20
      ), lang AS (
        SELECT doc_id,
               ${LangId.duckDbSql("text")} <> 'undetected' AS lang_ok
        FROM corpus
      ), qual AS (
        SELECT doc_id, ${TextAnalysis.qualityGateSql} AS quality_ok FROM corpus
      ), f2 AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks
        FROM corpus
      ), t2 AS (
        SELECT doc_id, unnest(toks) AS w FROM f2
      ), uni AS (
        SELECT doc_id, w, COUNT(*) AS c FROM t2 GROUP BY doc_id, w
      ), us AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, MAX(c) AS top_uni,
               CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
        FROM uni GROUP BY doc_id
      ), bb AS (
        SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2
        FROM (SELECT doc_id,
                     unnest(list_transform(range(1, greatest(len(toks), 1)),
                       i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS bg
              FROM f2)
      ), big AS (
        SELECT doc_id, w1, w2, COUNT(*) AS c FROM bb GROUP BY doc_id, w1, w2
      ), bs AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams, MAX(c) AS top_big
        FROM big GROUP BY doc_id
      ), gop AS (
        SELECT us.doc_id,
               top_uni * 1.0 / n_tokens <= 0.2
                 AND coalesce(top_big * 1.0 / n_bigrams, 0.0) <= 0.18
                 AND n_hapax * 1.0 / n_tokens >= 0.1 AS repetition_ok
        FROM us LEFT JOIN bs ON us.doc_id = bs.doc_id
      ), keep AS (
        SELECT c.doc_id
        FROM corpus c
        LEFT JOIN dup ON c.doc_id = dup.doc_id
        LEFT JOIN cont ON c.doc_id = cont.doc_id
        LEFT JOIN lang ON c.doc_id = lang.doc_id
        LEFT JOIN qual ON c.doc_id = qual.doc_id
        LEFT JOIN gop ON c.doc_id = gop.doc_id
        WHERE NOT coalesce(dup.is_duplicate, false)
          AND NOT coalesce(cont.is_contaminated, false)
          AND coalesce(lang.lang_ok, false)
          AND coalesce(qual.quality_ok, false)
          AND coalesce(gop.repetition_ok, false)
      ), ks AS (
        SELECT s0.doc_id, sh, len(sh) AS sz
        FROM s0 JOIN keep USING (doc_id) WHERE len(sh) > 0
      ), pairs AS (
        SELECT a.doc_id AS i, b.doc_id AS j
        FROM ks a JOIN ks b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.sh, b.sh)) * 1.0
                / (a.sz + b.sz - len(list_intersect(a.sh, b.sh))) >= 0.5
      ), edges AS (
        SELECT i AS src, j AS dst FROM pairs UNION SELECT j, i FROM pairs
      ), reach(node, r) AS (
        SELECT src, src FROM edges
        UNION
        SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src
      ), cl AS (
        SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node
      ), sp AS (
        SELECT k.doc_id,
               CASE WHEN substring(md5('csplit-' ||
                      CAST(coalesce(cl.cluster_id, k.doc_id) AS VARCHAR)), 1, 2) < 'cc'
                      THEN 'train'
                    WHEN substring(md5('csplit-' ||
                      CAST(coalesce(cl.cluster_id, k.doc_id) AS VARCHAR)), 1, 2) < 'e6'
                      THEN 'val'
                    ELSE 'test' END AS split
        FROM keep k LEFT JOIN cl ON k.doc_id = cl.doc_id
      ), toks3 AS (
        SELECT d.doc_id, d.source, sp.split,
               ${Bpe.totalFromJoinSql("d.text")} AS nt
        FROM documents d JOIN sp ON d.doc_id = sp.doc_id
        LEFT JOIN bpe_doc bd ON d.doc_id = bd.doc_id
      ), cum AS (
        SELECT *, sum(nt) OVER (PARTITION BY split, source ORDER BY doc_id) AS cum
        FROM toks3
      )
      SELECT split, source,
             count(*) AS n_docs,
             CAST(sum(nt) AS BIGINT) AS n_tokens,
             CAST(max((cum - nt) // 256) + 1 AS BIGINT) AS n_packs
      FROM cum
      GROUP BY split, source
      ORDER BY split, source
    """),
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val corpus = docs.filter(col("doc_id") >= 20).select("doc_id", "text", "n_chars")
    val bench = docs.filter(col("doc_id") < 20)
    val kept = verdictFrom(corpus, bench)
      .filter(col("keep")).select("doc_id")
    // balance the doc side BEFORE the keep join (r18): the broadcast join
    // inherits the scan's partitioning, so at test SF the compute-dense BPE
    // token count below ran as ONE serial ~2 s task (profile job 37); above
    // cores x maxPartitionBytes the gate reads false and the plan is
    // unchanged. Join results are partition-order-independent.
    val keptDocs = graft.util.Balance.ifNarrow(docs, col("doc_id"))
      .join(kept, "doc_id")
    val assign = Dedup.leakageSafeAssignments(keptDocs).select("doc_id", "split")
    val toks = keptDocs
      .select(col("doc_id"), col("source"), Bpe.totalCount(col("text")).as("nt"))
      .join(assign, "doc_id")
    val w = Window.partitionBy("split", "source").orderBy("doc_id")
    toks
      .withColumn("cum", sum(col("nt")).over(w))
      .withColumn("pack_id", floor((col("cum") - col("nt")) / lit(256.0)))
      .groupBy("split", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("nt")).as("n_tokens"),
        (max(col("pack_id")) + 1).cast("long").as("n_packs"))
      .orderBy("split", "source")
  }

  /** The 100 TB incarnation of [[q_pipeline_e2e]]: every stage swaps in
    * its sketch production twin — near-dup-aware verdict (bottom-k Jaccard
    * clusters ∪ exact fingerprints), leakage-safe split on sketch
    * clusters — while the packing stage is shared (it was already linear).
    * Both near-dup stages run on [[Dedup.jaccardDedup]], the pair-mass-
    * immune bottom-k join that survived the round-13 sf1000 probe where
    * the banded MinHash join died on disk. Rows-only (sampled-prefix
    * probes aren't SQL-expressible); CurationSpec reconciles its totals
    * against its own keep set and pins the split/pack invariants.
    */
  val q_pipeline_e2e_lsh: Q = Q("q_pipeline_e2e_lsh", None) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val corpus = docs.filter(col("doc_id") >= 20).select("doc_id", "text", "n_chars")
    val bench = docs.filter(col("doc_id") < 20)
    // Stage boundaries run through Stages.released: each stage's multi-GB
    // internals (bottom-k set checkpoints, cluster label frames) are
    // unpersisted as soon as its SMALL boundary frame (a doc_id keep set,
    // a (doc_id, split) assignment) is materialized, so peak memory is
    // the largest single stage, not the sum — what fits the 5M-doc probe
    // into the default 8 GB heap (SCALEPROBE round-13).
    val kept = graft.util.Stages.released(s) {
      verdictFrom(corpus, bench,
          Some(Dedup.lshNonCanonicalIds(corpus)))
        .filter(col("keep")).select("doc_id")
    }
    // same pre-join balance as q_pipeline_e2e: parallelize the serial BPE
    // count stage at test SF, no-op at scale (see the comment there)
    val keptDocs = graft.util.Balance.ifNarrow(docs, col("doc_id"))
      .join(kept, "doc_id")
    val assign = graft.util.Stages.released(s) {
      Dedup.leakageSafeAssignmentsFrom(keptDocs,
        Dedup.jaccardDedup(keptDocs, 0.5)).select("doc_id", "split")
    }
    val toks = keptDocs
      .select(col("doc_id"), col("source"), Bpe.totalCount(col("text")).as("nt"))
      .join(assign, "doc_id")
    val w = Window.partitionBy("split", "source").orderBy("doc_id")
    toks
      .withColumn("cum", sum(col("nt")).over(w))
      .withColumn("pack_id", floor((col("cum") - col("nt")) / lit(256.0)))
      .groupBy("split", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("nt")).as("n_tokens"),
        (max(col("pack_id")) + 1).cast("long").as("n_packs"))
      .orderBy("split", "source")
  }

  /** Sequence packing — the step between curation and tokenization that
    * concatenates documents into fixed-budget training sequences (the
    * GPT-style "pack the stream, cut every N tokens" regime). Documents are
    * laid out in a deterministic order (doc_id) within each source shard and
    * assigned pack = floor(tokens_before / budget): the pack a document
    * STARTS in, with overflow spilling into the next pack exactly as a
    * streaming concatenator would cut it. Output is the per-pack manifest a
    * writer would consume (doc span, doc count, token count, fill ratio).
    *
    * Scale shape: one window partitioned by source shard (parallel across
    * shards, no global ordering anywhere), then a partial-aggregated
    * groupBy on (source, pack_id). At 100 TB the shard is the crawl
    * partition, so the running sum never concentrates: this is two linear
    * shuffles keyed by source, the same layout the writer wants.
    */
  val q_pack_sequences: Q = Q(
    "q_pack_sequences",
    Some(s"""
      WITH ${Bpe.replayCtes},
      t AS (
        SELECT d.doc_id, d.source,
               ${Bpe.totalFromJoinSql("d.text")} AS n_tokens
        FROM documents d LEFT JOIN bpe_doc bd ON d.doc_id = bd.doc_id
      ), c AS (
        SELECT doc_id, source, n_tokens,
               sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS cum
        FROM t
      )
      SELECT source,
             CAST((cum - n_tokens) // 256 AS BIGINT) AS pack_id,
             count(*) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
             min(doc_id) AS first_doc,
             max(doc_id) AS last_doc,
             CAST(sum(n_tokens) AS BIGINT) / CAST(256 AS DOUBLE) AS fill_ratio
      FROM c
      GROUP BY source, CAST((cum - n_tokens) // 256 AS BIGINT)
      ORDER BY source, pack_id
    """),
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val budget = 256
    val toks = Tables.documents(s, d).select(
      col("doc_id"), col("source"),
      // real tokenizer counts (learned-merges subwords + digit/symbol
      // tokens), not whitespace words — see graft.text.Bpe
      Bpe.totalCount(col("text")).as("n_tokens"))
    val w = Window.partitionBy("source").orderBy("doc_id")
    toks
      .withColumn("cum", sum(col("n_tokens")).over(w))
      // tokens BEFORE this doc decide which pack it starts in
      .withColumn("pack_id",
        floor((col("cum") - col("n_tokens")) / lit(budget.toDouble)))
      .groupBy("source", "pack_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("pack_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .withColumn("fill_ratio", col("pack_tokens") / lit(budget.toDouble))
      .orderBy("source", "pack_id")
  }

  /** Temperature-based source mixing — the corpus-composition step a
    * training run decides last (The Pile's mixing weights, LLaMA's
    * source-level sampling): source s gets weight ∝ n_s^α (α = 0.5 here —
    * the square-root temperature that upsamples small sources), a global
    * token budget of half the corpus is allocated by weight, and each
    * document is kept by a deterministic salted-md5 draw against its
    * source's inclusion probability — no RNG state, stable under
    * repartition/reordering, the same design as q_sample_hash/split.
    * Token counts are the REAL tokenizer's ([[graft.text.Bpe]]), so the
    * budget means model tokens, not whitespace words.
    *
    * Cross-engine exactness: the weight normalizer Σ√n_s goes through a
    * DECIMAL(20,12) sum (order-independent — a double sum would differ in
    * the last ulp by accumulation order), √ is IEEE-correctly-rounded on
    * both engines, and the md5 draw compares fixed-width HEX STRINGS
    * (threshold rendered via floor → hex → lpad) so no float comparison
    * crosses engines. p ≥ 1 (a source smaller than its allocation) keeps
    * every document explicitly — hex-rendering 2^24 would truncate.
    *
    * Scale shape: one scan for per-doc token counts, a 20-row source
    * aggregate, the scalar normalizer broadcast back, then a scan-speed
    * keep decision — at 100 TB the only data-scale passes are the two
    * linear scans; everything between is dimension-table sized.
    */
  val q_mix_sources: Q = Q(
    "q_mix_sources",
    Some(s"""
      WITH ${Bpe.replayCtes},
      t AS (
        SELECT d.doc_id, d.source, ${Bpe.totalFromJoinSql("d.text")} AS nt
        FROM documents d LEFT JOIN bpe_doc bd ON d.doc_id = bd.doc_id
      ), s AS (
        SELECT source, COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens
        FROM t GROUP BY source
      ), g AS (
        SELECT CAST(SUM(CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS DECIMAL(20,12))) AS DOUBLE) AS z,
               CAST(0.5 AS DOUBLE) * CAST(SUM(n_tokens) AS BIGINT) AS b
        FROM s
      ), w AS (
        SELECT s.source, s.n_docs, s.n_tokens,
               sqrt(CAST(s.n_tokens AS DOUBLE)) / g.z AS weight,
               CASE WHEN s.n_tokens = 0 THEN CAST(0.0 AS DOUBLE)
                    ELSE (g.b * (sqrt(CAST(s.n_tokens AS DOUBLE)) / g.z))
                           / CAST(s.n_tokens AS DOUBLE) END AS p
        FROM s, g
      ), k AS (
        SELECT t.source, t.nt,
               w.p >= 1.0 OR
                 upper(substring(md5('mix-' || CAST(t.doc_id AS VARCHAR)), 1, 6))
                   < lpad(hex(CAST(floor(w.p * 16777216.0) AS BIGINT)), 6, '0') AS keep
        FROM t JOIN w ON t.source = w.source
      ), a AS (
        SELECT source,
               COUNT(*) FILTER (WHERE keep) AS kept_docs,
               CAST(coalesce(SUM(nt) FILTER (WHERE keep), 0) AS BIGINT) AS kept_tokens
        FROM k GROUP BY source
      )
      SELECT w.source, w.n_docs, w.n_tokens, w.weight,
             least(w.p, CAST(1.0 AS DOUBLE)) AS sample_p,
             a.kept_docs, a.kept_tokens,
             a.kept_tokens * 1.0 / w.n_tokens AS realized_rate
      FROM w JOIN a ON w.source = a.source
      ORDER BY w.source
    """),
  ) { (s, d) =>
    val t = Tables.documents(s, d).select(col("doc_id"), col("source"),
      Bpe.totalCount(col("text")).as("nt"))
    val srcStats = t.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
    val nD = col("n_tokens").cast(org.apache.spark.sql.types.DoubleType)
    val g = srcStats.agg(
      sum(sqrt(nD).cast(org.apache.spark.sql.types.DecimalType(20, 12)))
        .cast(org.apache.spark.sql.types.DoubleType).as("z"),
      (lit(0.5) * sum(col("n_tokens"))).as("b"))
    val w = srcStats.crossJoin(broadcast(g))
      .withColumn("weight", sqrt(nD) / col("z"))
      // a zero-token source would make p = 0/0 = NaN, which the oracle's
      // CAST(floor(...) AS BIGINT) hard-errors on — pin it to 0 (keep none)
      .withColumn("p", when(col("n_tokens") === 0, lit(0.0))
        .otherwise((col("b") * (sqrt(nD) / col("z"))) / nD))
    val hashHex = upper(substring(
      md5(concat(lit("mix-"), col("doc_id").cast("string")).cast(BinaryType)), 1, 6))
    val k = t.join(broadcast(w.select("source", "p")), "source")
      .select(col("source"), col("nt"),
        (col("p") >= 1.0 ||
          hashHex < lpad(hex(floor(col("p") * lit(16777216.0))), 6, "0")).as("keep"))
    val a = k.groupBy("source").agg(
      count(when(col("keep"), 1)).as("kept_docs"),
      coalesce(sum(when(col("keep"), col("nt"))), lit(0L)).as("kept_tokens"))
    w.join(a, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("weight"),
        least(col("p"), lit(1.0)).as("sample_p"),
        col("kept_docs"), col("kept_tokens"),
        (col("kept_tokens") * lit(1.0) / col("n_tokens")).as("realized_rate"))
      .orderBy("source")
  }

  def all: Seq[Q] =
    Seq(q_curate_verdict, q_curate_verdict_lsh, q_pack_sequences, q_mix_sources,
      q_pipeline_e2e, q_pipeline_e2e_lsh)
}
