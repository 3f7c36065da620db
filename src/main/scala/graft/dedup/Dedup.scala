package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.text.TextAnalysis
import graft.util.{Q, Tables}

/** Near/exact deduplication family for a training-data pipeline
  * (BASELINE.json north star). The scale-critical design choices:
  *
  *  - Shingle sets live as per-row arrays (documents are KB-scale, so an
  *    array column beats a posting-table when the pair set is what's big).
  *  - The exact set-similarity join uses PREFIX FILTERING (PPJoin-style):
  *    with shingles in a global (frequency, value) order, two sets with
  *    Jaccard ≥ t MUST share a token in their first |A|-⌈t·|A|⌉+1 tokens —
  *    so the candidate join touches only prefix postings, not every shingle.
  *    Exact recall (theorem-backed), no brute-force n² anywhere.
  *  - MinHash-LSH and SimHash are the probabilistic scale paths (constant
  *    per-doc signature cost, banded equi-join candidates, exact rescore);
  *    not SQL-expressible → rows-only checks, pinned instead by DedupSpec
  *    against the exact join's output.
  */
object Dedup {

  // -------------------------------------------------------------- shingles

  /** Word 3-shingles from a pre-materialized token array — the REFERENCE
    * formulation: production paths use the native
    * [[graft.functions.WordShingles]] kernel (see [[shingleSets]]), and the
    * specs pin the two equal (DedupSpec + KernelPropertySpec). Single-space
    * split matches the oracle's string_split; element_at is 1-based on both
    * engines. IMPORTANT if composed directly: `toks` must be a bound
    * column, not an inline `split(...)` — Catalyst does not
    * common-subexpression-eliminate through lambda bodies, so an inline
    * split re-tokenizes the document for every element of every shingle
    * (O(words²) per doc; measured 6-9 s for 5k docs at sf0.1).
    */
  def shingles(toks: Column): Column =
    array_distinct(
      when(size(toks) >= 3,
        transform(sequence(lit(1), size(toks) - 2), i =>
          concat_ws(" ",
            element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2))))
        .otherwise(array().cast(ArrayType(StringType))))

  private[graft] val shinglesSql =
    """list_distinct(list_transform(range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
       i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
            || ' ' || string_split(text, ' ')[i+2]))"""

  /** Shingle sets per doc: (doc_id, sh, sz), via the native one-pass
    * [[graft.functions.WordShingles]] kernel (semantically identical to
    * [[shingles]] over a single-space split — the equivalence is pinned in
    * DedupSpec — at ~10× the throughput of the interpreted HOF chain).
    * This string-array form is the REFERENCE layout the specs brute-force
    * against; the production dedup paths run on [[hashedShingleSets]].
    *
    * The repartition spreads the CPU-heavy shingle/hash derivation across
    * all cores BEFORE computing: a small corpus arrives as one file = one
    * scan partition, and at any scale shingling is compute-bound, so paying
    * one cheap shuffle of (doc_id, text) to balance it is the right trade.
    * The explicit partition count stops AQE coalescing the (tiny by bytes,
    * huge by compute) shuffle back to one partition.
    *
    * Deliberately NO `sz > 0` filter here: predicate pushdown would
    * substitute the shingle expression into a pre-projection Filter,
    * evaluating it twice per row. Empty sets are harmless downstream — they
    * explode to zero posting rows and inner-join away from every candidate
    * path.
    */
  def shingleSets(docs: DataFrame): DataFrame = {
    docs.repartition(docs.sparkSession.sparkContext.defaultParallelism, col("doc_id"))
      // coalesce: the HOF formulation mapped NULL text to an empty set (its
      // when().otherwise() fell through); keep that contract
      .select(col("doc_id"),
        coalesce(graft.functions.TextFunctions.wordShingles(col("text"), 3),
          array().cast(ArrayType(StringType))).as("sh"))
      .withColumn("sz", size(col("sh")))
  }

  /** Hashed shingle sets per doc: (doc_id, shh, sz) with shh = sorted
    * distinct xxhash64 values of the word 3-shingles, fused into one
    * compiled pass ([[graft.functions.WordShingleHashes]] — equal to
    * `sort_array(array_distinct(transform(sh, xxhash64)))` over
    * [[shingleSets]].sh, pinned in KernelPropertySpec). Every production
    * dedup path consumes shingles only through their hashes (postings,
    * MinHash, SimHash, intersection COUNTS), so this layout skips the
    * string-array materialization entirely: per-doc arrays of longs shuffle
    * and cache at a fraction of the string cost, and the exact rescore
    * becomes a sorted-merge count instead of a per-pair string hash-set.
    * Same repartition / no-filter rationale as [[shingleSets]].
    */
  def hashedShingleSets(docs: DataFrame): DataFrame =
    shingleHashes(
      docs.repartition(docs.sparkSession.sparkContext.defaultParallelism, col("doc_id")))

  /** The one word-3-shingle kernel projection: (doc_id, shh, sz) over
    * whatever partitioning `docs` arrives in. NULL text maps to an empty set,
    * as [[shingleSets]] does.
    */
  private def shingleHashes(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        coalesce(graft.functions.ShingleHashFunctions.wordShingleHashes(col("text"), 3),
          array().cast(ArrayType(LongType))).as("shh"))
      .withColumn("sz", size(col("shh")))

  /** A rescore's output column and its value from |A∩B|, |A| and |B|. */
  private final case class Score(name: String, of: (Column, Column, Column) => Column)

  /** Symmetric Jaccard |A∩B| / |A∪B|. */
  private val jaccardScore =
    Score("jaccard", (inter, szI, szJ) => inter * lit(1.0) / (szI + szJ - inter))

  /** Directed containment |A∩B| / |A|: the i side is the contained one. */
  private val containmentScore =
    Score("containment", (inter, szI, _) => inter * lit(1.0) / szI)

  /** The exact rescore every near-dup join ends in: |A∩B| of each candidate
    * (i, j) by sorted-merge over the hashed sets (O(n+m), codegen'd —
    * [[graft.functions.SortedIntersectCount]]), keeping the pairs whose
    * `score` is at least t as (i, j, score.name). Equal to the string
    * intersection size up to 64-bit collisions (see [[setSimilarityJoin]]).
    * `gate`, when given, is a cheaper necessary condition (the bottom-k
    * estimator) filtered BEFORE the full intersect.
    */
  private def rescore(cands: DataFrame, sets: DataFrame, t: Double, score: Score,
      gate: Option[Column] = None): DataFrame = {
    val inter = graft.functions.ShingleHashFunctions
      .sortedIntersectCount(col("shh_i"), col("shh_j"))
    val joined = cands
      .join(sets.select(col("doc_id").as("i"), col("shh").as("shh_i"), col("sz").as("sz_i")), "i")
      .join(sets.select(col("doc_id").as("j"), col("shh").as("shh_j"), col("sz").as("sz_j")), "j")
    gate.fold(joined)(g => joined.filter(g))
      .withColumn(score.name, score.of(inter, col("sz_i"), col("sz_j")))
      .filter(col(score.name) >= t)
      .select("i", "j", score.name)
  }

  // ------------------------------------------------------- exact SSJ (oracle)

  /** The ranked-posting stage both exact joins prune on: one row per
    * (sh_h, doc_id) with the doc's size, the hash's corpus frequency and
    * its `rank` in the doc under ONE global rare-first order (freq, then
    * hash) — so prefixes hold the most selective tokens and the candidate
    * fan-out is smallest.
    *
    * Postings carry the shingle's 64-bit hash, not the string: the freq
    * aggregation, rank window, and candidate equi-join all shuffle longs
    * instead of ~25-byte strings (and the hash was already computed once
    * per doc inside the shingle kernel — the explode just unnests it). A
    * 64-bit collision merging two distinct shingles can only create a
    * spurious candidate (killed by the exact rescore) — never lose a true
    * pair beyond ~2^-64 tie-order noise. explode_outer + null-filter for
    * the same InferFiltersFromGenerate reason as [[hashedPosting]].
    * Unmaterialized: each join checkpoints the projection it reuses.
    */
  private def rankedPostings(sets: DataFrame): DataFrame = {
    val posting = sets
      .select(col("doc_id"), col("sz"), explode_outer(col("shh")).as("sh_h"))
      .filter(col("sh_h").isNotNull)
    val freq = posting.groupBy("sh_h").agg(count(lit(1)).as("freq"))
    posting
      .join(freq, "sh_h")
      .withColumn("rank",
        row_number().over(Window.partitionBy("doc_id").orderBy(col("freq"), col("sh_h"))))
  }

  /** Exact all-pairs Jaccard join with full PPJoin-style candidate pruning:
    * prefix filter + length filter + positional filter. The length/positional
    * predicates sit INSIDE the candidate join, so a hot shingle shared by k
    * docs emits far fewer than k² rows — the filters prune before the
    * shuffle-write of the aggregation, which is what keeps the candidate
    * stage from going quadratic on skewed vocabularies at 100 TB.
    */
  def setSimilarityJoin(docs: DataFrame, t: Double): DataFrame = {
    // The hashed shingle table is consumed three times (postings + both
    // rescore sides). localCheckpoint materializes it exactly once and hands
    // ownership to the ContextCleaner: the blocks are dropped as soon as the
    // frame is unreachable, unlike an owner-less persist(), which leaks one
    // CacheManager entry per distinct input plan for the session's lifetime
    // (the round-6 finding). At 100 TB this is the "materialize the
    // tokenized corpus" step every dedup run wants — on a real cluster swap
    // for reliable checkpoint() so executor loss can't force a recompute.
    val sets = hashedShingleSets(docs).localCheckpoint()
    // materialized ONCE (r17): both sides of the candidate self-join read
    // this frame, and without the checkpoint each side re-ran the whole
    // posting -> freq-join -> rank-window pipeline (measured as two
    // identical ~23 s-CPU jobs at sf0.1) — the same fix containmentJoin's
    // ranked checkpoint applied after its 10x probe (35 s -> 19.9 s).
    // Prefix postings are the SMALLER frame (only the first
    // |A|-ceil(t|A|)+1 tokens per doc), so this materializes less than
    // the ranked table would.
    val prefix = rankedPostings(sets)
      .filter(col("rank") <= col("sz") - ceil(lit(t) * col("sz")) + 1)
      .select(col("sh_h"), col("doc_id"), col("sz"), col("rank"))
      .localCheckpoint()
    // Length filter: J(A,B) ≥ t ⇒ t·|A| ≤ |B| ∧ t·|B| ≤ |A|.
    // Positional filter: overlap still reachable after each side's matched
    // prefix position must meet α = ⌈t/(1+t)·(|A|+|B|)⌉ (PPJoin, Xiao et
    // al. 2008 — public algorithm).
    val alpha = ceil(lit(t / (1 + t)) * (col("a.sz") + col("b.sz")))
    val cands = prefix.as("a")
      .join(prefix.as("b"),
        col("a.sh_h") === col("b.sh_h")
          && col("a.doc_id") < col("b.doc_id")
          && col("b.sz") >= ceil(lit(t) * col("a.sz"))
          && col("a.sz") >= ceil(lit(t) * col("b.sz"))
          && least(col("a.sz") - col("a.rank"), col("b.sz") - col("b.rank")) + 1 >= alpha)
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
    // Deliberately NOT persisted: every caller consumes the pair frame
    // exactly once per action (the pair query writes it; the clustering
    // gate persists its own edges derivative), and an owner-less persist
    // here would leak a CacheManager entry per distinct input plan for the
    // session's lifetime. Cross-query reuse still happens one level down —
    // the `sets` cache above is the expensive shared step, and a recompute
    // of the candidate join from cached sets is cheap.
    rescore(cands, sets, t, jaccardScore)
  }

  val q_dedup_ngram_jaccard: Q = Q(
    "q_dedup_ngram_jaccard",
    Some(s"""
      WITH s AS (
        SELECT doc_id, $shinglesSql AS sh FROM documents
      ), sz AS (
        SELECT doc_id, sh, len(sh) AS sz FROM s WHERE len(sh) > 0
      )
      SELECT a.doc_id AS i, b.doc_id AS j,
             len(list_intersect(a.sh, b.sh)) * 1.0
               / (a.sz + b.sz - len(list_intersect(a.sh, b.sh))) AS jaccard
      FROM sz a JOIN sz b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh)) * 1.0
              / (a.sz + b.sz - len(list_intersect(a.sh, b.sh))) >= 0.5
      ORDER BY i, j
    """),
  ) { (s, d) =>
    setSimilarityJoin(Tables.documents(s, d), 0.5).orderBy("i", "j")
  }

  /** Directed containment join: |A∩B| / |A| ≥ t — the ASYMMETRIC
    * near-dup relation symmetric Jaccard misses: a short document quoted
    * whole inside a much longer one has high containment but low Jaccard
    * (the union is dominated by the container). Curation pipelines run
    * this for quote/subset detection and to drop "wrapper" rehosts of
    * existing pages.
    *
    * Candidate pruning differs from PPJoin because the relation is
    * directed: the CONTAINED side keeps its (|A| − ⌈t·|A|⌉ + 1)-token
    * rare-first prefix (pigeonhole: B can miss at most |A| − ⌈t·|A|⌉ of
    * A's tokens, so at least one prefix token must hit), but the container
    * side must index ALL its tokens — no symmetric prefix bound exists for
    * B. What keeps hot tokens from blowing the candidate stage up is the
    * POSITIONAL filter on both sides: rankings share one global rare-first
    * order, so the FIRST common token of a qualifying pair leaves ≥ α − 1
    * common tokens after its position in BOTH documents
    * (min(|A|−r_a, |B|−r_b) + 1 ≥ α = ⌈t·|A|⌉) — and a frequent token
    * sits near the END of every posting's ranking, so exactly the
    * postings that are long are the ones the bound prunes (measured at
    * the 10× probe scale: 35 s un-positioned → 25 s with this bound →
    * 19.9 s once the ranked postings also materialize once). Rescore divides the sorted-merge
    * intersection by |A| only. Same hashed-postings layout, 64-bit keys,
    * and collision tolerance as [[setSimilarityJoin]].
    *
    * Honest scale profile: candidate volume is CORPUS-OVERLAP-driven — on
    * a templated corpus (like this synthetic one) many documents genuinely
    * share rare-ish shingles, so the exact path rescans millions of
    * candidate pairs one order up (~34M candidates at the 10× probe scale,
    * nearly all pruned at the rescore). That is the inherent cost of EXACT
    * directed containment; the sub-linear 100 TB path is
    * [[containmentDedup]] — the df-capped bottom-k estimator join —
    * with this join as the oracle-exact relation both approximate paths
    * are pinned against, exactly as [[minHashLshJoin]] pairs with
    * [[setSimilarityJoin]].
    */
  def containmentJoin(docs: DataFrame, t: Double): DataFrame = {
    val sets = hashedShingleSets(docs).localCheckpoint()
    // consumed twice (A's prefix + B's full side) — materialize the ranked
    // postings once rather than paying the freq join + rank window per use
    val ranked = rankedPostings(sets)
      .select("sh_h", "doc_id", "sz", "rank")
      .localCheckpoint()
    // alpha must never exceed the smallest intersection the rescore keeps:
    // t*sz in double can round ABOVE the true rational product (0.8 is not
    // exactly representable), inflating ceil() by 1 and pruning an
    // exact-boundary pair the final containment >= t filter would keep.
    // The epsilon-backoff keeps ceil at or below the true bound.
    def alphaOf(sz: Column): Column = ceil(lit(t) * sz - lit(1e-9))
    val prefix = ranked
      .filter(col("rank") <= col("sz") - alphaOf(col("sz")) + 1)
      .select(col("sh_h"), col("doc_id").as("i"), col("sz").as("sz_i"),
        col("rank").as("rank_i"))
    val alpha = alphaOf(col("sz_i"))
    val cands = prefix
      .join(ranked.select(col("sh_h"), col("doc_id").as("j"),
        col("sz").as("sz_j"), col("rank").as("rank_j")), Seq("sh_h"))
      .filter(col("i") =!= col("j") && col("sz_j") >= alpha
        && least(col("sz_i") - col("rank_i"), col("sz_j") - col("rank_j")) + 1 >= alpha)
      .select("i", "j").distinct()
    rescore(cands, sets, t, containmentScore)
  }

  val q_dedup_containment: Q = Q(
    "q_dedup_containment",
    Some(s"""
      WITH s AS (
        SELECT doc_id, $shinglesSql AS sh FROM documents
      ), sz AS (
        SELECT doc_id, sh, len(sh) AS sz FROM s WHERE len(sh) > 0
      )
      SELECT a.doc_id AS i, b.doc_id AS j,
             len(list_intersect(a.sh, b.sh)) * 1.0 / a.sz AS containment
      FROM sz a JOIN sz b ON a.doc_id <> b.doc_id
      WHERE len(list_intersect(a.sh, b.sh)) * 1.0 / a.sz >= 0.8
      ORDER BY i, j
    """),
  ) { (s, d) =>
    containmentJoin(Tables.documents(s, d), 0.8).orderBy("i", "j")
  }

  // -------------------------------------------------- duplicate clustering

  /** Distributed connected components over an undirected duplicate-pair
    * list via min-label propagation: every node starts labeled with itself;
    * each round every node takes the min label among itself and its
    * neighbors (one equi-join + one union + one min-groupBy — all shuffle
    * ops, no driver data). Converges in O(graph diameter) rounds, which for
    * near-dup graphs is tiny (clusters are cliques-ish); the driver loop
    * only runs scalar convergence actions (sum of labels — strictly
    * decreasing until fixpoint), never collects rows. Each round
    * localCheckpoints the label frame to truncate lineage (swap for
    * `checkpoint` + a reliable dir on a real cluster); for graphs with long
    * chains the O(log n) large-star/small-star variant is the upgrade path.
    *
    * Returns (node, label) where label = min doc_id reachable = canonical
    * document id of the cluster.
    */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    val (labels, converged, rounds) = propagateWithRounds(pairs, 50)
    // Exiting via the round cap means labels may not have reached the
    // per-component minimum — downstream cluster assignments would be
    // silently wrong, so make it loud (a duplicate graph needing >50
    // propagation rounds signals the large-star/small-star upgrade path).
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"connectedComponents stopped at the $rounds-round cap before " +
          "convergence; labels may be non-canonical")
    labels
  }

  /** Min-label propagation loop body, capped; returns (labels, converged,
    * rounds). Callers decide what non-convergence means: [[connectedComponents]]
    * warns, [[connectedComponentsHybrid]] falls back to alternating-star.
    */
  private def propagateWithRounds(
      pairs: DataFrame, maxRounds: Int): (DataFrame, Boolean, Int) = {
    // Both orientations from ONE pass over pairs (explode, not union —
    // union's two branches would each recompute the upstream pair join,
    // doubling the expensive similarity stage when the input isn't cached).
    val edges = pairs
      .select(explode(array(
        struct(col("i").as("src"), col("j").as("dst")),
        struct(col("j").as("src"), col("i").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      // NOT pre-partitioned on src: a duplicate graph's label frame is tiny
      // relative to its edge list, so AQE broadcasts labels into the cached
      // edge partitions each round and the edge list never re-shuffles; an
      // explicit repartition here measured as pure added cost. If labels
      // ever outgrew broadcast (billions of near-dup nodes), hash-partition
      // this cache on src so the rounds shuffle only the label frame.
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Seed with round 1's OUTPUT computed as one aggregate (r18): the old
    // node→node seed spent the first loop round's edges⨝labels join
    // discovering exactly min(node ∪ N(node)), which one groupBy over the
    // symmetrized edge list already yields — label(dst) = min over rows of
    // min(src, dst). One propagation round (join + union + agg + action)
    // saved per CC call; labels after this seed are bit-identical to the
    // old round-1 labels, so every later round and the fixpoint are
    // unchanged. Lazy-marked like the loop's frames — round 1's action
    // materializes it.
    var labels = edges
      .select(col("dst").as("node"), least(col("src"), col("dst")).as("label"))
      .groupBy("node").agg(min(col("label")).as("label"))
      .localCheckpoint(false)
    var prevSum = BigDecimal(-1)
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      val msgs = edges.join(labels.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), col("label"))
      val next = labels.union(msgs)
        .groupBy("node")
        // decimal sum for the convergence checksum below would overflow
        // longs at extreme ids; min itself is type-preserving
        .agg(min(col("label")).as("label"))
        // lazy: the convergence aggregate below is the materializing action,
        // so each round runs ONE job, not checkpoint-then-sum
        .localCheckpoint(false)
      val sum0 = next.agg(sum(col("label").cast(DecimalType(38, 0)))).head().getDecimal(0)
      // an EMPTY pair graph (e.g. clustering a corpus the dedup gate
      // already cleaned) sums to SQL NULL — that's the converged fixpoint
      // of zero nodes, not an error
      val s = if (sum0 == null) BigDecimal(0) else BigDecimal(sum0)
      converged = s == prevSum
      prevSum = s
      labels = next
      rounds += 1
    }
    edges.unpersist()
    (labels, converged, rounds)
  }

  /** Propagation-first hybrid connected components — the default for the
    * clustering gates. Duplicate graphs are clique-ish (diameter 2-3), so
    * min-label propagation converges in ~4 single-job rounds; the
    * alternating-star algorithm's O(log n) bound only wins on pathological
    * long chains, and its per-round fixed cost is ~3× propagation's (two
    * star passes ≈ six shuffle stages + two distincts per round — the
    * round-6 regression). So: propagate with a small cap; only if the graph
    * still hasn't converged (diameter > cap ⇒ chain-shaped) restart on
    * alternating-star, whose round count is logarithmic. Callers should pass
    * a materialized (checkpointed) pair frame so the fallback never re-runs
    * the expensive upstream pipeline.
    */
  def connectedComponentsHybrid(pairs: DataFrame, propagationCap: Int = 8): DataFrame = {
    val (labels, converged, _) = propagateWithRounds(pairs, propagationCap)
    if (converged) labels else connectedComponentsAlternating(pairs)
  }

  /** Alternating large-star/small-star connected components (Kiveris et
    * al. 2014, "Connected Components in MapReduce and Beyond" — public
    * algorithm): the long-chain upgrade path over min-label propagation.
    * Propagation needs O(diameter) rounds — a pathological chain-shaped
    * duplicate graph exhausts any round cap — while the alternating star
    * operations contract chains in O(log n) rounds, each round two
    * groupBy/join passes over the edge list (shuffle-only, no driver data;
    * scalar checksum action for the fixpoint, lineage truncated per round
    * like the propagation loop).
    *
    *  - large-star: every node points its LARGER neighbors at the minimum
    *    of its neighborhood (incl. itself);
    *  - small-star: every node and its smaller neighbors re-hang on that
    *    minimum.
    *
    * The fixpoint is a forest of stars whose centers are the component
    * minima, so labels match [[connectedComponents]] exactly (pinned in
    * DedupSpec). Returns (node, label).
    */
  def connectedComponentsAlternating(pairs: DataFrame): DataFrame =
    alternatingWithRounds(pairs)._1

  private[dedup] def alternatingWithRounds(
      pairs: DataFrame, maxRounds: Int = 50): (DataFrame, Int) = {
    // ONE materialization of the (possibly expensive) upstream pair
    // pipeline; the node set and the working edge list both derive from it.
    // Round 6 eagerly checkpointed nodes AND e separately, running the
    // candidate-join/rescore pipeline twice — the measured 12→21 s
    // regression on the clustering gate.
    val p = pairs.select(col("i"), col("j")).localCheckpoint()
    val nodes = p
      .select(explode(array(col("i"), col("j"))).as("node")).distinct()
    var e = p
      .select(greatest(col("i"), col("j")).as("u"), least(col("i"), col("j")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    var prevSum = BigDecimal(-1)
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      // large-star over both orientations: m(u) = min(N(u) ∪ {u}); emit
      // (v, m) for the strictly larger neighbors v > u
      val nbrs = e.select(explode(array(
          struct(col("u").as("a"), col("v").as("b")),
          struct(col("v").as("a"), col("u").as("b")))).as("x"))
        .select(col("x.a").as("a"), col("x.b").as("b"))
      val mins = nbrs.groupBy("a").agg(least(min(col("b")), first(col("a"))).as("m"))
      val ls = nbrs.join(mins, "a")
        .filter(col("b") > col("a"))
        .select(col("b").as("u"), col("m").as("v"))
        .distinct()
      // small-star on (larger → smaller)-oriented edges: re-hang u and its
      // smaller neighbors on m(u) = min of those neighbors
      val dir = ls.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val mins2 = dir.groupBy("u").agg(min(col("v")).as("m"))
      val next = dir.join(mins2, "u")
        .select(explode(array(
          struct(col("v").as("a"), col("m").as("b")),
          struct(col("u").as("a"), col("m").as("b")))).as("x"))
        .select(col("x.a").as("u"), col("x.b").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint(false)
      // order-independent edge-set checksum as the scalar fixpoint action
      val sum0 = next.agg(sum(xxhash64(col("u"), col("v")).cast(DecimalType(38, 0))))
        .head().getDecimal(0)
      val s = Option(sum0).map(BigDecimal(_)).getOrElse(BigDecimal(0))
      converged = s == prevSum
      prevSum = s
      e = next
      rounds += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"connectedComponentsAlternating stopped at the $rounds-round cap")
    // star edges are (child, center); centers label themselves
    val labels = nodes
      .join(e.select(col("u").as("node"), col("v").as("ctr")), Seq("node"), "left")
      .select(col("node"), coalesce(col("ctr"), col("node")).as("label"))
    (labels, rounds)
  }

  /** (doc_id, cluster_id, cluster_size) projection shared by the exact and
    * LSH-fed clustering gates. The pair pipeline (candidate join + exact
    * rescore) is materialized exactly ONCE here; the hybrid CC then runs
    * cheap single-job propagation rounds over the checkpointed edges, with
    * alternating-star as the long-chain escape hatch — which, if taken,
    * also starts from the already-materialized pairs.
    */
  private def clusterAssignments(pairs: DataFrame): DataFrame =
    ccAssignments(pairs)
      .withColumn("cluster_size", count(lit(1)).over(Window.partitionBy("cluster_id")))
      .orderBy("doc_id")

  /** Raw (doc_id, cluster_id) from connected components — no size window,
    * no sort (r17): composed consumers either never read cluster_size (the
    * leakage-safe split) or immediately re-shuffle by cluster_id for their
    * own window (canonical selection), so the full [[clusterAssignments]]
    * projection paid one exchange+window and one global sort (plus its
    * range-partitioner sampling pass) that the composition threw away.
    */
  private def ccAssignments(pairs: DataFrame): DataFrame = {
    // LAZY (r18): the only consumer inside the propagation loop is the
    // persisted `edges` derivative, whose round-1 job materializes these
    // blocks in the same pass — an eager checkpoint here spent a whole
    // job (plus its driver barrier) on the same materialization. The
    // hybrid's alternating-star fallback still reads cached blocks, never
    // re-runs the pair pipeline.
    val p = pairs.select(col("i"), col("j")).localCheckpoint(eager = false)
    val cc = connectedComponentsHybrid(p)
    cc.select(col("node").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Cluster assignment for every document that participates in at least
    * one exact-jaccard duplicate pair: (doc_id, cluster_id = canonical
    * min-id member, cluster_size). The DuckDB oracle recomputes the same
    * clusters with a recursive transitive-closure CTE — exponentially more
    * expensive than label propagation, fine at oracle scale.
    */
  val q_dedup_clusters: Q = Q(
    "q_dedup_clusters",
    Some(s"""
      WITH RECURSIVE s AS (
        SELECT doc_id, $shinglesSql AS sh FROM documents
      ), sz AS (
        SELECT doc_id, sh, len(sh) AS sz FROM s WHERE len(sh) > 0
      ), pairs AS (
        SELECT a.doc_id AS i, b.doc_id AS j
        FROM sz a JOIN sz b ON a.doc_id < b.doc_id
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
      )
      SELECT doc_id, cluster_id,
             COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
      FROM cl
      ORDER BY doc_id
    """),
  ) { (s, d) =>
    clusterAssignments(setSimilarityJoin(Tables.documents(s, d), 0.5))
  }

  /** Canonical selection — the decision a dedup pipeline actually ships:
    * within each duplicate cluster keep the BEST document, not the
    * arbitrary min-id one. "Best" here is the longest text (n_chars, the
    * usual keep-longest near-dup policy), doc_id as the deterministic
    * tiebreak. Composes the exact-pair clustering with a per-cluster
    * row_number — cluster sizes are bounded small by construction, so the
    * window never concentrates; everything else is the already-linear
    * clustering path. The oracle recomputes clusters via the recursive
    * transitive-closure CTE and applies the identical argmax.
    */
  val q_dedup_canonical: Q = Q(
    "q_dedup_canonical",
    Some(s"""
      WITH RECURSIVE s AS (
        SELECT doc_id, $shinglesSql AS sh FROM documents
      ), sz AS (
        SELECT doc_id, sh, len(sh) AS sz FROM s WHERE len(sh) > 0
      ), pairs AS (
        SELECT a.doc_id AS i, b.doc_id AS j
        FROM sz a JOIN sz b ON a.doc_id < b.doc_id
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
      ), ranked AS (
        SELECT cl.doc_id, cl.cluster_id, d.n_chars,
               COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
               row_number() OVER (PARTITION BY cluster_id
                                  ORDER BY d.n_chars DESC, cl.doc_id) AS rk
        FROM cl JOIN documents d USING (doc_id)
      )
      SELECT doc_id, cluster_id, cluster_size, n_chars, rk = 1 AS keep
      FROM ranked
      ORDER BY doc_id
    """),
  ) { (s, d) =>
    val docs = Tables.documents(s, d)
    canonicalFrom(docs, setSimilarityJoin(docs, 0.5))
  }

  /** Keep-longest canonical selection over a duplicate-pair source — the
    * policy body shared by the exact [[q_dedup_canonical]] and its LSH
    * production twin, so the two can never drift: cluster via connected
    * components, keep exactly the longest member (n_chars DESC, doc_id as
    * deterministic tiebreak) per cluster.
    */
  private def canonicalFrom(docs: DataFrame, pairs: DataFrame): DataFrame = {
    // both windows ride ONE exchange by cluster_id (r17): size from the
    // unordered frame, keep-rank from the ordered one — the planner stacks
    // them over a single hash partitioning instead of shuffling the
    // assignment frame twice (clusterAssignments' window + a second one
    // here), and no intermediate global sort runs between them.
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("n_chars").desc, col("doc_id"))
    ccAssignments(pairs)
      .join(docs.select("doc_id", "n_chars"), "doc_id")
      .withColumn("cluster_size", count(lit(1)).over(Window.partitionBy("cluster_id")))
      .withColumn("keep", row_number().over(w) === 1)
      .select("doc_id", "cluster_id", "cluster_size", "n_chars", "keep")
      .orderBy("doc_id")
  }

  /** The 100 TB canonical-selection path: same keep-longest policy, but fed
    * by the default sketch near-dup join ([[jaccardDedup]], the pair-mass-
    * immune bottom-k generator) instead of the quadratic-prone exact SSJ —
    * the composition a production dedup run executes. Rewired off the
    * banded MinHash join after the round-13 sf1000 probe killed it on disk
    * at 50M docs while the bottom-k join finished in the default heap.
    * Rows-only (sampled-prefix probes aren't SQL-expressible); DedupSpec
    * pins one-keep-per-cluster and the keep-set agreement vs the exact
    * canonical.
    */
  val q_dedup_canonical_lsh: Q = Q("q_dedup_canonical_lsh", None) { (s, d) =>
    val docs = Tables.documents(s, d)
    canonicalFrom(docs, jaccardDedup(docs, 0.5))
  }

  /** Non-canonical members of sketch-detected near-dup clusters, as
    * (doc_id, near_dup = true) — the duplicate evidence the production
    * curation verdict consumes (see Curation.q_curate_verdict_lsh). Runs
    * on [[jaccardDedup]], the scale-safe default pair source.
    */
  def lshNonCanonicalIds(docs: DataFrame): DataFrame =
    canonicalFrom(docs, jaccardDedup(docs, 0.5))
      .filter(!col("keep"))
      .select(col("doc_id"), lit(true).as("near_dup"))

  /** Per-document (doc_id, cluster_id, nt, split) frame behind
    * [[q_split_leakage_safe]] — exposed so DedupSpec can assert the
    * invariant the operator exists for: no near-dup pair ever straddles
    * two splits.
    */
  def leakageSafeAssignments(docs: DataFrame): DataFrame =
    leakageSafeAssignmentsFrom(docs, setSimilarityJoin(docs, 0.5))

  /** Split-assignment body parameterized by the duplicate-pair source, so
    * the exact oracle path and the LSH production twin share one policy
    * (cluster-keyed salted-md5 split; singletons are their own cluster).
    */
  private[graft] def leakageSafeAssignmentsFrom(docs: DataFrame, pairs: DataFrame): DataFrame = {
    // raw CC labels (r17): the split never reads cluster_size, so the
    // size window's exchange and clusterAssignments' global sort were
    // dead weight here
    val clusters = ccAssignments(pairs)
    val assign = docs
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        size(TextAnalysis.tokens(col("text"))).as("nt"))
    val h = substring(
      md5(concat(lit("csplit-"), col("cluster_id").cast("string")).cast(BinaryType)),
      1, 2)
    assign.withColumn("split",
      when(h < "cc", "train").when(h < "e6", "val").otherwise("test"))
  }

  /** Leakage-safe train/val/test split — the dedup-aware fix for the
    * classic evaluation bug: a per-document hash split (q_sample_split)
    * puts near-duplicate documents on BOTH sides of the train/test
    * boundary, leaking training content into eval. Here the split is
    * assigned per duplicate CLUSTER (near-dup pairs at Jaccard ≥ 0.5 →
    * connected components; unpaired documents are their own singleton
    * cluster), so a cluster's members can never straddle splits. Same
    * salted-md5 fixed-width-hex assignment as q_sample_split, keyed by
    * cluster id. Scale shape: the clustering path (linear, see
    * [[clusterAssignments]]) + a scan-speed hash; the oracle recomputes
    * clusters with its recursive transitive-closure CTE and must land on
    * identical totals.
    */
  val q_split_leakage_safe: Q = Q(
    "q_split_leakage_safe",
    Some(s"""
      WITH RECURSIVE s AS (
        SELECT doc_id, $shinglesSql AS sh FROM documents
      ), sz AS (
        SELECT doc_id, sh, len(sh) AS sz FROM s WHERE len(sh) > 0
      ), pairs AS (
        SELECT a.doc_id AS i, b.doc_id AS j
        FROM sz a JOIN sz b ON a.doc_id < b.doc_id
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
      ), assign AS (
        SELECT d.doc_id,
               coalesce(cl.cluster_id, d.doc_id) AS cluster_id,
               len(string_split_regex(d.text, '\\s+')) AS nt
        FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id
      ), sp AS (
        SELECT doc_id, cluster_id, nt,
               CASE WHEN substring(md5('csplit-' || CAST(cluster_id AS VARCHAR)), 1, 2) < 'cc'
                      THEN 'train'
                    WHEN substring(md5('csplit-' || CAST(cluster_id AS VARCHAR)), 1, 2) < 'e6'
                      THEN 'val'
                    ELSE 'test' END AS split
        FROM assign
      )
      SELECT split,
             COUNT(*) AS n_docs,
             COUNT(DISTINCT cluster_id) AS n_clusters,
             CAST(SUM(nt) AS BIGINT) AS n_tokens
      FROM sp
      GROUP BY split
      ORDER BY split
    """),
  ) { (s, d) =>
    leakageSafeAssignments(Tables.documents(s, d))
      .groupBy("split")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("cluster_id")).as("n_clusters"),
        sum(col("nt")).as("n_tokens"))
      .orderBy("split")
  }

  /** The 100 TB leakage-safe split: identical cluster-keyed assignment
    * policy, but clusters come from the default sketch join
    * ([[jaccardDedup]]) instead of the exact SSJ. The production guarantee
    * is honest about its sketch: no pair the sketch DETECTS ever straddles
    * splits (DedupSpec pins this plus a bounded assignment-flip rate vs
    * the exact split); undetected pairs are the recall complement, the
    * same residual any sketch-based dedup run carries. Rows-only
    * (sampled-prefix probes aren't SQL-expressible).
    */
  val q_split_leakage_safe_lsh: Q = Q("q_split_leakage_safe_lsh", None) { (s, d) =>
    val docs = Tables.documents(s, d)
    leakageSafeAssignmentsFrom(docs, jaccardDedup(docs, 0.5))
      .groupBy("split")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("cluster_id")).as("n_clusters"),
        sum(col("nt")).as("n_tokens"))
      .orderBy("split")
  }

  /** The 100 TB composition of the dedup family: sketch candidate
    * generation → exact rescore → connected components. The exact-pair
    * clustering above is the oracle ground truth; this one swaps the
    * quadratic-prone exact SSJ for the default sketch join
    * ([[jaccardDedup]] — candidate mass bounded by construction), which is
    * what a production run over a full corpus would execute. Rows-only by
    * nature (sampled-prefix probes aren't SQL-expressible); DedupSpec pins
    * co-membership precision 1 / recall ≥ 0.9 against the exact clusters.
    */
  val q_dedup_clusters_lsh: Q = Q("q_dedup_clusters_lsh", None) { (s, d) =>
    clusterAssignments(jaccardDedup(Tables.documents(s, d), 0.5))
  }

  /** PageRank centrality over the duplicate graph — the link-analysis
    * iterate beyond connected components (Common Crawl ranks hosts with
    * exactly this family of centrality scores to pick high-quality
    * content). Unnormalized random-surfer form (Page et al.:
    * R = (1-d) + d·Σ R(in)/deg(in), d = 0.85), SIX fixed iterations.
    *
    * Cross-engine exactness: ranks live in integer fixed-point (units of
    * 1e-12 of a node's base rank) and every step is integer arithmetic —
    * `div` on both engines truncates identically, while float ranks would
    * accumulate in partition order and drift. Overflow headroom: the rank
    * mass is conserved-ish at N·1e12 ≤ 5e15, ×85 ≪ 2^63. Scale shape: per
    * iteration one broadcast-ready join of ranks onto edges and one
    * partial-aggregated groupBy on dst — the textbook distributed PageRank
    * step, O(E) per round with no driver-side data.
    */
  val q_graph_pagerank: Q = {
    val R0 = 1000000000000L // 1.0 in fixed-point
    val T = 150000000000L // teleport: 0.15
    val iters = 6
    val oracleSql = {
      val graph = s"""
        WITH s AS (
          SELECT doc_id, $shinglesSql AS sh FROM documents
        ), sz AS (
          SELECT doc_id, sh, len(sh) AS sz FROM s WHERE len(sh) > 0
        ), pairs AS (
          SELECT a.doc_id AS i, b.doc_id AS j
          FROM sz a JOIN sz b ON a.doc_id < b.doc_id
          WHERE len(list_intersect(a.sh, b.sh)) * 1.0
                  / (a.sz + b.sz - len(list_intersect(a.sh, b.sh))) >= 0.5
        ), e AS (
          SELECT i AS src, j AS dst FROM pairs
          UNION ALL SELECT j, i FROM pairs
        ), nodes AS (
          SELECT DISTINCT src AS node FROM e
        ), deg AS (
          SELECT src, count(*) AS deg FROM e GROUP BY src
        ), r0 AS (
          SELECT node, CAST($R0 AS BIGINT) AS rank FROM nodes
        )"""
      val levels = (1 to iters).map { t =>
        s""", r$t AS (
          SELECT n.node,
                 CAST($T + (85 * coalesce(inc.s, 0)) // 100 AS BIGINT) AS rank
          FROM nodes n LEFT JOIN (
            SELECT e.dst AS node, sum(r.rank // d.deg) AS s
            FROM e JOIN r${t - 1} r ON e.src = r.node
                   JOIN deg d ON e.src = d.src
            GROUP BY e.dst) inc ON n.node = inc.node
        )"""
      }.mkString
      s"""$graph$levels
        SELECT node AS doc_id, rank AS pagerank FROM r$iters ORDER BY doc_id"""
    }
    Q("q_graph_pagerank", Some(oracleSql)) { (s, d) =>
      val pairs = setSimilarityJoin(Tables.documents(s, d), 0.5)
        .select("i", "j").localCheckpoint()
      // Degree is fused onto the edge list ONCE before the loop (it never
      // changes), and the per-iteration left-join back onto the node set is
      // dropped entirely: the edge set is symmetrized, so every node has an
      // in-edge and `incoming` covers the full node set by construction —
      // the oracle keeps the textbook LEFT JOIN form, which is equal on any
      // symmetric graph. Each iteration is then exactly one join + one
      // partial-aggregated groupBy (2 shuffle stages, AQE picks broadcast
      // for the small rank side at gate scale; both sides shuffle at 100 TB).
      val edges = pairs.select(col("i").as("src"), col("j").as("dst"))
        .union(pairs.select(col("j").as("src"), col("i").as("dst")))
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      val edgesDeg = edges.join(deg, "src").localCheckpoint()
      var rank = edgesDeg.select(col("src").as("node")).distinct()
        .select(col("node"), lit(R0).as("rank"))
      for (_ <- 1 to iters) {
        rank = edgesDeg
          .join(rank, edgesDeg("src") === rank("node"))
          .select(col("dst"), expr("rank div deg").as("c"))
          .groupBy(col("dst").as("node")).agg(sum("c").as("inc"))
          .select(col("node"), (lit(T) + expr("85 * inc div 100")).as("rank"))
      }
      rank.select(col("node").as("doc_id"), col("rank").as("pagerank"))
        .orderBy("doc_id")
    }
  }

  // -------------------------------------------------------- decontamination

  /** Benchmark decontamination — the curation step that keeps training docs
    * from leaking evaluation data: any document sharing at least one word
    * 3-shingle with the benchmark set is contaminated. The benchmark side
    * is small by nature, so its distinct shingle hashes broadcast and the
    * check is a map-side semi-join against the corpus posting stream —
    * linear in corpus size at any scale. Left-anti keeps the clean set; the
    * query emits the per-document verdict so both halves are auditable.
    */
  def contaminatedIds(corpus: DataFrame, benchmark: DataFrame): DataFrame = {
    val corpusPostings = hashedPosting(hashedShingleSets(corpus))
    val benchShingles = hashedPosting(hashedShingleSets(benchmark))
      .select(col("h")).distinct()
    corpusPostings
      .join(broadcast(benchShingles), Seq("h"), "left_semi")
      .select(col("doc_id")).distinct()
  }

  /** Verdict per document vs the doc_id < 20 stand-in benchmark. The oracle
    * recomputes contamination as a correlated shingle-overlap EXISTS.
    */
  val q_decontaminate: Q = Q(
    "q_decontaminate",
    Some(s"""
      WITH s AS (
        SELECT doc_id, $shinglesSql AS sh FROM documents
      ), bench AS (
        SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id < 20
      ), verdict AS (
        SELECT s.doc_id,
               EXISTS (SELECT 1 FROM bench, unnest(s.sh) AS t(g2) WHERE g2 = bench.g)
                 AS contaminated
        FROM s WHERE doc_id >= 20
      )
      SELECT doc_id, contaminated FROM verdict
      ORDER BY doc_id
    """),
  ) { (s, d) =>
    val docs = Tables.documents(s, d)
    val corpus = docs.filter(col("doc_id") >= 20)
    val bench = docs.filter(col("doc_id") < 20)
    val bad = contaminatedIds(corpus, bench)
      .withColumn("contaminated", lit(true))
    corpus.select("doc_id")
      .join(bad, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("contaminated"), lit(false)).as("contaminated"))
      .orderBy("doc_id")
  }

  // -------------------------------------------------------- passage dedup

  /** Passage-level exact dedup (the CCNet/"paragraph dedup" curation step,
    * adapted to the corpus's line-less documents): the unit is a
    * non-overlapping 10-token chunk, and a passage counts as shared when the
    * same chunk text occurs in at least two distinct documents corpus-wide.
    * Emits the per-document audit (n_passages, n_shared, shared fraction) a
    * curation run gates on before cutting the shared passages out.
    *
    * Scale shape: chunks shuffle by their md5 key (16 bytes, not the ~60-byte
    * passage string), the passage-frequency aggregation partial-aggregates
    * map-side, and the per-doc rollup shuffles by doc_id — two linear
    * shuffles, no corpus-global state beyond the bounded distinct-passage
    * table.
    */
  val q_dedup_passage: Q = Q(
    "q_dedup_passage",
    Some("""
      WITH f AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS toks
        FROM documents
      ), p AS (
        SELECT doc_id,
               md5(unnest(list_transform(range(0, CAST(ceil(len(toks) / 10.0) AS INT)),
                 i -> array_to_string(list_slice(toks, i * 10 + 1, i * 10 + 10), ' '))))
                 AS pk
        FROM f WHERE len(toks) > 0
      ), freq AS (
        SELECT pk, COUNT(DISTINCT doc_id) AS nd FROM p GROUP BY pk
      )
      SELECT doc_id,
             COUNT(*) AS n_passages,
             CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
             SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) * 1.0 / COUNT(*) AS shared_frac
      FROM p JOIN freq USING (pk)
      GROUP BY doc_id
      ORDER BY doc_id
    """),
  ) { (s, d) =>
    val f = Tables.documents(s, d)
      // bound toks projection: no CSE through lambda bodies
      .select(col("doc_id"),
        filter(split(lower(col("text")), graft.text.TextAnalysis.wsRe), t => t =!= "").as("toks"))
      .filter(size(col("toks")) > 0)
    val p = f.select(col("doc_id"), explode_outer(
        transform(sequence(lit(0), ceil(size(col("toks")) / lit(10.0)).cast("int") - 1),
          i => md5(concat_ws(" ", slice(col("toks"), i * 10 + 1, lit(10))).cast(BinaryType))))
        .as("pk"))
      .filter(col("pk").isNotNull)
    val freq = p.groupBy("pk").agg(countDistinct(col("doc_id")).as("nd"))
    p.join(freq, "pk")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_passages"),
        sum(when(col("nd") >= 2, 1).otherwise(0)).as("n_shared"))
      .withColumn("shared_frac", col("n_shared") * lit(1.0) / col("n_passages"))
      .orderBy("doc_id")
  }

  /** SLIDING-window repeated-substring audit (the Lee et al. 2021
    * "Deduplicating Training Data Makes Language Models Better" signal,
    * window-granular): every 20-token window of every document,
    * cross-referenced for appearance in any OTHER document. The disjoint
    * 10-token chunks of [[q_dedup_passage]] miss UNALIGNED repeats — a
    * passage repeated at a 5-token offset never shares a chunk boundary —
    * while sliding windows catch any shared span ≥ 20 tokens wherever it
    * sits. Per-doc windows come from the fused
    * [[graft.functions.WordShingleHashes]] kernel at n = 20 (sorted
    * distinct xxhash64 per doc, single-space split, one compiled pass), so
    * the window-key shuffle — the whole cost here — carries 64-bit longs,
    * not ~120-byte strings, under the jaccard family's documented
    * collision tolerance; the DuckDB oracle keeps string windows, which
    * is what the hash gate cross-checks. Scale shape: linear explode (one
    * row per distinct window), one groupBy on the window key, one join
    * back — same as the passage query.
    */
  val q_dedup_substring: Q = Q(
    "q_dedup_substring",
    Some("""
      WITH f AS (
        SELECT doc_id,
               list_distinct(list_transform(
                 range(1, greatest(len(string_split(text, ' ')) - 18, 1)),
                 i -> array_to_string(list_slice(string_split(text, ' '),
                                                 i, i + 19), ' '))) AS gs
        FROM documents
      ), g AS (
        SELECT doc_id, unnest(gs) AS g FROM f
      ), dc AS (
        SELECT g, COUNT(*) AS nd FROM g GROUP BY g
      )
      SELECT g.doc_id,
             COUNT(*) AS n_windows,
             CAST(SUM(CASE WHEN dc.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared,
             SUM(CASE WHEN dc.nd >= 2 THEN 1 ELSE 0 END) * 1.0 / COUNT(*)
               AS shared_frac
      FROM g JOIN dc USING (g)
      GROUP BY g.doc_id
      ORDER BY g.doc_id
    """),
  ) { (s, d) =>
    // windows carry as 64-bit xxhash64 values (the fused shingle+hash
    // kernel at n = 20), not ~120-byte strings — the window-key shuffle is
    // the whole cost here, and the hash layout is the jaccard family's
    // documented collision tolerance (a collision can only merge two
    // distinct windows, vanishing at 2^-64 scale)
    val f = Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"),
        graft.functions.ShingleHashFunctions.wordShingleHashes(col("text"), 20).as("gs"))
    val g = f.select(col("doc_id"), explode_outer(col("gs")).as("g"))
      .filter(col("g").isNotNull)
    // windows are distinct per doc (the kernel's contract), so a plain
    // count IS the distinct-document count — no countDistinct state
    val dc = g.groupBy("g").agg(count(lit(1)).as("nd"))
    g.join(dc, "g")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_windows"),
        sum(when(col("nd") >= 2, 1).otherwise(0)).as("n_shared"))
      .withColumn("shared_frac", col("n_shared") * lit(1.0) / col("n_windows"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------ exact dedup

  /** Exact dedup by normalized-content hash: canonical = min doc_id. */
  val q_dedup_exact: Q = Q(
    "q_dedup_exact",
    Some("""
      SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                 ' +', ' ', 'g'))) AS fingerprint,
             MIN(doc_id) AS canonical_id,
             COUNT(*) AS n_copies
      FROM documents
      GROUP BY 1
      ORDER BY canonical_id
    """),
  ) { (s, d) =>
    Tables.documents(s, d)
      .groupBy(md5(TextAnalysis.normalize(col("text")).cast(BinaryType)).as("fingerprint"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
      .orderBy("canonical_id")
  }

  // ------------------------------------------------------------ minhash LSH

  val numHashes = 64
  val numBands  = 16
  val rowsPerBand: Int = numHashes / numBands

  /** One row per (doc, shingle-hash) — the vectorizable layout both sketches
    * aggregate over. The hash comes pre-computed from the hashed shingle
    * array (one kernel pass per doc); xxhash64 re-mixed with the hash index
    * downstream replaces a·x+b modular arithmetic (which trips ANSI
    * overflow checking).
    *
    * explode_outer, NOT explode: plain explode lets Catalyst infer a
    * `size(shh) > 0` filter (InferFiltersFromGenerate) which pushdown then
    * rewrites in terms of the full shingle expression and sinks below the
    * balancing repartition — the expression evaluated twice per row on the
    * unbalanced scan partition (measured 8× slowdown on the HOF form). The
    * outer variant infers nothing; the padded null row from an empty set
    * is dropped by a cheap post-explode filter on the generated column,
    * which cannot be pushed through the Generate.
    */
  private[graft] def hashedPosting(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"), explode_outer(col("shh")).as("h"))
      .filter(col("h").isNotNull)

  /** MinHash signature via the [[graft.functions.MinHashSignature]] kernel:
    * all 64 minima in one compiled pass over the row's own shingle array —
    * no posting explode, no per-doc shuffle, and the inner
    * `xxhash64(h, 42)` hoisted out of the 64-way loop. Bit-identical to
    * the previous explode → 64 min-aggregates formulation (the kernel
    * replicates the builtin's seed fold), which itself replaced a 64×
    * array-transform expression tree that blew the codegen method limit.
    * A shingle-less doc keeps its historical contract of vanishing from
    * the signature frame (kernel returns null; filtered here).
    */
  def withSignature(sets: DataFrame): DataFrame = {
    // sz (when the caller's frame has it) rides along for the signature
    // prefilter's size-ratio bound — free here, one less join later
    val keep =
      if (sets.columns.contains("sz")) Seq(col("doc_id"), col("sz"))
      else Seq(col("doc_id"))
    sets
      .withColumn("__sig",
        graft.functions.ShingleHashFunctions.minHashSignature(col("shh"), numHashes))
      .filter(col("__sig").isNotNull)
      .select(keep ++
        (0 until numHashes).map(i => col("__sig").getItem(i).as(s"m$i")): _*)
  }

  /** Flat 4σ recall margin for the signature prefilter:
    * σ(ĵ) = sqrt(j(1−j)/[[numHashes]]) ≤ 1/16, so a true pair's lane
    * estimate sits within 0.25 of its Jaccard except with probability
    * ~3·10⁻⁵ — negligible against the LSH banding's own miss rate.
    */
  val prefilterSlack = 4.0 / 16

  /** Packed byte lanes of the MinHash signature: lane i = low byte of
    * minimum mᵢ, eight lanes per long. Lane agreement between two docs
    * ([[graft.functions.ByteLaneAgree]]) estimates their Jaccard at 1/8th
    * the byte width of the raw minima — thin enough to join against every
    * candidate pair.
    */
  private def packedSigBytes: Column =
    array((0 until numHashes / 8).map { k =>
      (0 until 8).map { b =>
        shiftleft(col(s"m${8 * k + b}").bitwiseAND(lit(255L)), 8 * b)
      }.reduce(_ bitwiseOR _)
    }: _*)

  private[graft] def withSigBytes(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), col("sz"), packedSigBytes.as("sigb"))

  /** Signature prefilter between banded candidate generation and the exact
    * array rescore — the third-decade fix: at 5M docs the banded joins
    * emit tens-to-hundreds of candidate pairs per true pair (weak-overlap
    * docs whose minima agree on one short band), and shipping both full
    * shingle arrays (~800 B a side) to rescore-and-reject them is what
    * actually bends the LSH family (sf100 probe: 25M/275M candidates,
    * 98.7–99.8% rescore-rejected). Joining the 72-byte packed signature
    * instead and keeping only pairs whose lane estimate clears
    * jMin − [[prefilterSlack]] kills that background for a tenth of the
    * bytes; the exact rescore is unchanged, so precision stays 1 and the
    * only recall cost is the 4σ tail.
    *
    * `jMin(szI, szJ)` is the caller's ALGEBRAIC lower bound on the raw
    * Jaccard of any pair its rescore would keep — `lit(t)` for the
    * symmetric join; t/(1 + |B|/|A| − t) for directed containment (from
    * |A∩B| ≥ t|A|) — so the margin argument composes: prefilter-dropped
    * pairs are rescore-rejected except for the 4σ tail. Null sigb (a
    * schema-evolved index row from before the column existed) passes
    * through to the rescore rather than silently dropping.
    */
  private[graft] def prefilterCands(cands: DataFrame, sb: DataFrame,
      jMin: (Column, Column) => Column, selBias: Double = 0.0): DataFrame = {
    val agree = graft.functions.ShingleHashFunctions
      .byteLaneAgree(col("sigb_i"), col("sigb_j"))
    // selBias corrects for CANDIDATE SELECTION inflating the estimate: a
    // Jaccard-banded candidate shares a fired band, so rowsPerBand of its
    // lanes agree by construction and E[agree | candidate, j] =
    // rowsPerBand + j(numHashes − rowsPerBand) — measured at sf100, the
    // uncorrected threshold kept 2.4× the pairs the distribution predicts.
    // The conditional mean 64j + rowsPerBand(1−j) is minimized over the
    // kept region at j = t, so raising the threshold by rowsPerBand(1−t)
    // preserves the full 4σ margin below every true pair's mean while
    // pricing the background's free fired-band lanes back out.
    // Containment candidates fire on PADDED minima, which does not force
    // raw-lane agreement, so that path passes 0.
    val minLanes = ceil(
      (jMin(col("psz_i"), col("psz_j")) - lit(prefilterSlack)) * numHashes
        + lit(selBias) - lit(1e-9))
    cands
      .join(sb.select(col("doc_id").as("i"), col("sz").as("psz_i"),
        col("sigb").as("sigb_i")), "i")
      .join(sb.select(col("doc_id").as("j"), col("sz").as("psz_j"),
        col("sigb").as("sigb_j")), "j")
      .filter(col("sigb_i").isNull || col("sigb_j").isNull || agree >= minLanes)
      .select("i", "j")
  }

  /** The band-hash array off a 64-column signature frame: band j hashes
    * the `rowsPer` minima from position j·rowsPer on, `bands × rowsPer` ≤
    * [[numHashes]] positions consumed in order. Band hashes are made only
    * here — for the exploded banding, the compact checkpoint and the
    * persisted index layout — so all of them agree bit for bit.
    */
  private def bandHashArray(bands: Int, rowsPer: Int): Column =
    array((0 until bands).map { j =>
      xxhash64(lit(j) +: (0 until rowsPer)
        .map(r => col(s"m${j * rowsPer + r}")): _*)
    }: _*)

  /** Band hashes off a 64-column MinHash signature frame: one row per
    * (doc_id, band, band_hash). Shared by the symmetric Jaccard LSH and the
    * asymmetric containment sketch (different band geometry, same hashes).
    */
  private[graft] def bandedHashes(sig: DataFrame, bands: Int, rowsPer: Int): DataFrame =
    sig.select(col("doc_id"),
      posexplode(bandHashArray(bands, rowsPer)).as(Seq("band", "band_hash")))

  /** (doc_id, band, band_hash) rows of a frame carrying a `band_hashes`
    * array (the [[sigCompact]] checkpoint, the persisted index).
    */
  private def explodeBands(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
      posexplode(col("band_hashes")).as(Seq("band", "band_hash")))

  /** Per-(band, band_hash) bucket stats behind the [[bandBucketCap]] hub
    * cap, shared by every banded candidate join: the bucket's size as `n`
    * and its min-doc_id representative as `rep`. Unordered-frame window
    * aggregates partitioned by (band, band_hash) — the exact exchange+sort
    * the sort-merge candidate join needs anyway, so the cap costs no extra
    * shuffle. Each join keeps its own star predicate over these columns.
    */
  private def bucketStats(banded: DataFrame, n: String, rep: String): DataFrame = {
    val bucket = Window.partitionBy("band", "band_hash")
    banded
      .withColumn(n, count(lit(1)).over(bucket))
      .withColumn(rep, min("doc_id").over(bucket))
  }

  /** Everything the symmetric LSH join needs downstream of the signature,
    * at 1/2.7 the width of the raw 64 minima: the 16 Jaccard band hashes
    * plus the packed prefilter bytes. Checkpointing THIS instead of the
    * signature frame is what keeps the join inside an 8 GB heap at the
    * 5M-doc probe scale (the full-width sig checkpoint OOMed there).
    */
  private[graft] def sigCompact(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), col("sz"), packedSigBytes.as("sigb"),
      bandHashArray(numBands, rowsPerBand).as("band_hashes"))

  /** The symmetric LSH candidate stage of [[minHashLshJoin]]: distinct
    * (i < j) pairs sharing a band hash of the [[sigCompact]] frame
    * `compact`, hub-capped. [[graft.DedupScaleProbe]] counts this same
    * stage, so the probe measures what the join runs.
    */
  private[graft] def lshCandidates(compact: DataFrame): DataFrame = {
    // banded feeds both sides of the self-join: checkpointed once
    val banded = bucketStats(explodeBands(compact), "n", "rep").localCheckpoint()
    // hub cap (see [[bandBucketCap]]): a bucket over the cap — a
    // near-identical family whose minima agree in this band — keeps only
    // its rep's star instead of the full i<j cross product
    val dense = col("a.n") > bandBucketCap
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash")
          && col("a.doc_id") < col("b.doc_id")
          && (!dense || col("a.doc_id") === col("a.rep")
            || col("b.doc_id") === col("b.rep")))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
  }

  /** LSH banding: 16 bands × 4 rows. Docs sharing any band hash become
    * candidates (pair probability ~1-(1-j⁴)¹⁶: >0.99 at j=0.7); candidates
    * are exact-rescored so precision is 1, recall is the LSH curve.
    */
  def minHashLshJoin(docs: DataFrame, t: Double): DataFrame = {
    // sets feeds the signature AND both rescore sides. localCheckpoint,
    // not persist: materialized once, ContextCleaner-owned, no
    // CacheManager leak (see setSimilarityJoin).
    val sets = hashedShingleSets(docs).localCheckpoint()
    // ONE signature kernel pass (the family's measured cost floor at
    // scale), materialized in its COMPACT projection — band hashes +
    // packed prefilter bytes, 24 longs/doc instead of the raw 64 minima —
    // which both banding and the prefilter read
    val compact = sigCompact(withSignature(sets)).localCheckpoint()
    val cands = lshCandidates(compact)
    rescore(jaccardPrefilter(cands, compact.select("doc_id", "sz", "sigb"), t),
      sets, t, jaccardScore)
  }

  /** The signature prefilter of a Jaccard-banded candidate set: any pair
    * the rescore keeps has Jaccard ≥ t, so lit(t) is the exact algebraic
    * floor the prefilter margin subtracts from; the selection correction
    * prices out the fired band's rowsPerBand free lanes. Shared by the
    * batch join and the persisted-index probe.
    */
  private def jaccardPrefilter(cands: DataFrame, sb: DataFrame, t: Double): DataFrame =
    prefilterCands(cands, sb, (_, _) => lit(t), selBias = rowsPerBand * (1 - t))

  /** Rows-only: banding hashes aren't SQL-expressible; recall pinned against
    * the exact join in DedupSpec.
    */
  val q_dedup_minhash_lsh: Q = Q("q_dedup_minhash_lsh", None) { (s, d) =>
    minHashLshJoin(Tables.documents(s, d), 0.5).orderBy("i", "j")
  }

  // ------------------------------------- persisted LSH near-dup index

  /** One row per doc for the PERSISTED LSH index, as (doc_id, band_hashes,
    * sigb, shh, sz): the 16 Jaccard band hashes as an array (MERGE requires
    * a unique key per doc; probes posexplode them back out) alongside the
    * sorted shingle-hash set the exact rescore needs. Built from the same
    * [[sigCompact]] projection as [[minHashLshJoin]] — one signature kernel
    * pass — so index probes and the batch join agree bit-for-bit. sigb is
    * persisted alongside the band hashes: probes prefilter their
    * candidates on the 72-byte packed signature before touching the stored
    * shh arrays (recomputing it at probe time would read those arrays,
    * which is exactly what the prefilter exists to avoid).
    */
  def lshIndexRows(docs: DataFrame): DataFrame = {
    val sets = hashedShingleSets(docs).localCheckpoint()
    sigCompact(withSignature(sets)).select("doc_id", "band_hashes", "sigb")
      .join(sets.select("doc_id", "shh", "sz"), "doc_id")
  }

  /** Build the index as one committed SnapshotTable: the frozen-parameter
    * near-dup registry a streaming corpus ingests against (see
    * Streaming.dedupIngest). The band columns are 16 longs/doc; `shh`
    * rides along for rescores and is column-pruned out of band probes.
    */
  def lshIndexBuild(docs: DataFrame, dir: String): Unit =
    graft.io.SnapshotTable.create(lshIndexRows(docs), dir)

  /** Probe the committed index with new docs' index rows (as built by
    * [[lshIndexRows]]): banded candidates against EVERY indexed doc
    * (including rows merged this batch), exact-rescored from the stored
    * sets — precision 1, recall the LSH curve, identical pair semantics to
    * [[minHashLshJoin]] on the union corpus. The index must already
    * contain the probe rows (ingest merges first, then probes the same
    * rows), so both rescore sides read from one snapshot. The probe only
    * explodes the rows' band hashes: no shingle or MinHash kernel runs
    * here, so a caller that materialized the rows once pays for them once.
    */
  def lshIndexProbe(newRows: DataFrame, dir: String, t: Double): DataFrame = {
    val spark = newRows.sparkSession
    val idx = graft.io.SnapshotTable.read(spark, dir)
    val probeBands = explodeBands(newRows).localCheckpoint()
    // prune the index's postings to the probed buckets FIRST, then size
    // what survives: the window stats cost one pass over only the hit
    // postings, and a hub family in the INDEX (bucket > bandBucketCap)
    // answers each probe with its rep's star instead of every member —
    // the ingest dup gate only needs SOME detected pair, which the rep
    // star preserves
    val idxHit = bucketStats(
      explodeBands(idx).join(probeBands.select("band", "band_hash").distinct(),
        Seq("band", "band_hash")),
      "cn", "c_rep")
    val cands = probeBands.as("a")
      .join(idxHit.as("b"),
        col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash")
          && col("a.doc_id") =!= col("b.doc_id")
          && (col("b.cn") <= bandBucketCap
            || col("b.doc_id") === col("b.c_rep")))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("i"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("j"))
      .distinct()
    // prefilter on the index's persisted packed signatures (the ingest
    // merged the probe docs' rows before probing, so one source covers
    // both sides); an index built before sigb existed skips the filter —
    // correctness never depends on it
    val kept =
      if (!idx.columns.contains("sigb")) cands
      else jaccardPrefilter(cands, idx.select("doc_id", "sz", "sigb"), t)
    rescore(kept, idx.select("doc_id", "shh", "sz"), t, jaccardScore)
  }

  // ----------------------------------- approximate containment (default)

  /** THE default at-scale containment path: the df-capped bottom-k
    * estimator join ([[containmentBottomKJoin]]). The engine carries two
    * approximate containment operators and three decades of probe data on
    * each; the numbers pick the default unambiguously:
    *
    *   - bottom-k: 4.7×/decade across sf10→sf100, probe cost k posting
    *     lookups per doc, and — the structural property — candidate mass
    *     is IMMUNE to the weak-similarity background (a pair only
    *     surfaces when a uniformly-sampled element of A actually occurs
    *     in B, so candidates track true intersection mass, not band-hash
    *     coincidence). Covers extreme size ratios (|B| ≫ |A|) exactly,
    *     which is the asymmetric relation's whole point.
    *   - asymmetric-minhash sketch: 13.2×/decade at sf100 even after the
    *     89%-kill packed-signature prefilter, because its 2-row bands
    *     (forced by padding's collision dilution) admit a background that
    *     grows ~quadratically with corpus size; pre-prefilter it died on
    *     disk at 5M docs (>78 GB spill). It remains in-engine as the
    *     RECALL-STUDY variant (see [[containmentSketchJoin]]).
    *
    * Both end in the one exact [[rescore]], so precision is 1 either way and
    * rows for identical pairs are identical; only candidate generation —
    * and therefore the scale law — differs. DedupSpec pins this delegation
    * (default ≡ bottom-k pair-for-pair) plus the bottom-k recall ≥ 0.9 /
    * planted extreme-ratio pins that justify it.
    */
  def containmentDedup(docs: DataFrame, t: Double, k: Int = 16,
      dfCap: Int = 64): DataFrame =
    containmentBottomKJoin(docs, t, k, dfCap)

  // ---------------- asymmetric containment sketch (recall-study variant)

  /** Containment-sketch band geometry: shorter bands (2 rows × 32 bands over
    * the same 64 hashes) than the Jaccard LSH's 4 × 16, because the padded
    * collision probability for a true containment pair sits well below its
    * plain Jaccard (see [[containmentSketchJoin]]) — the flatter curve
    * keeps recall at padded-J ≈ 0.25 where 4-row bands would drop it.
    */
  val cSketchBands = 32
  val cSketchRows: Int = numHashes / cSketchBands

  /** RECALL-STUDY VARIANT — not the default containment path (that is
    * [[containmentDedup]] → the df-capped bottom-k join); see the scale
    * comparison there. Kept because its banded geometry is the textbook
    * asymmetric-minwise construction and its recall curve on
    * moderate-ratio pairs is the benchmark the bottom-k pins are read
    * against.
    *
    * Asymmetric-MinHash candidate path for directed containment
    * (Shrivastava & Li 2015, "Asymmetric Minwise Hashing"): plain MinHash
    * collision probability is Jaccard, which does NOT preserve containment
    * — a small doc fully inside a large one can have tiny Jaccard. The
    * asymmetric transform pads ONLY the container side to a fixed budget
    * M = next-power-of-two(|B|) with per-doc-unique synthetic hashes, so a
    * query signature (unpadded A) collides with a padded container
    * signature (B⁺) with probability
    *   J(A, B⁺) = |A∩B| / (|A| + M_B − |A∩B|),
    * monotone in the intersection for fixed sizes. Banding those mixed
    * signatures (query side × container side, [[cSketchBands]] bands)
    * yields DIRECTED candidates (i ⊆? j) that the exact [[rescore]] then
    * scores exactly — precision 1 by construction, recall the banding
    * curve, same sketch-plus-exact-rescore pairing as
    * [[minHashLshJoin]] → [[setSimilarityJoin]].
    *
    * What the banding buys over the exact join: the [[containmentJoin]]'s candidate
    * volume is corpus-overlap-driven (~34M pairs at the 10× probe scale);
    * here a pair only surfaces when 2 of 64 minima collide, so candidate
    * volume tracks the true-pair count plus a hub term bounded by band-hash
    * equality — sub-linear in corpus overlap, linear shuffles otherwise
    * (explode → groupBy signature → band self-join). Padding at most
    * doubles the container's posting rows (M < 2|B|).
    *
    * Honest limitation, inherent to the method (S&L report the same): for
    * EXTREME size ratios (|B| ≫ |A|) the padded collision probability
    * t·|A|/(|A| + M_B) decays toward zero, so recall concentrates on
    * moderate-ratio pairs; at ratio ≤ ~2 and t = 0.8 the padded J stays
    * ≥ ~0.25 where the 2-row/32-band curve is ≥ 0.87. Pairs beyond that
    * need the exact join (or a bottom-k containment sample, the documented
    * alternative estimator).
    */
  def containmentSketchJoin(docs: DataFrame, t: Double): DataFrame = {
    val sets = hashedShingleSets(docs).filter(col("sz") > 0).localCheckpoint()
    val sig = withSignature(sets).localCheckpoint()
    // directed containment |A∩B| ≥ t|A| bounds the raw Jaccard from below:
    // J = I/(|A|+|B|−I) ≥ t|A|/(|A|+|B|−t|A|) = t/(1 + |B|/|A| − t) — a
    // pair-adaptive floor, so extreme-ratio pairs (the asymmetric sketch's
    // whole reason to exist, where J is legitimately tiny) keep a floor
    // near zero and pass untouched, while the near-equal-size background
    // (the dominant candidate mass) must clear ~t/(2−t) − slack
    rescore(
      prefilterCands(containmentSketchCandidates(sets, sig), withSigBytes(sig),
        (szI, szJ) => lit(t) / (lit(1.0) + szJ / szI - lit(t))),
      sets, t, containmentScore)
  }

  /** Hub-bucket cap shared by every banded candidate join (symmetric
    * Jaccard LSH, asymmetric containment sketch, persisted-index probes):
    * in a (band, band_hash) bucket holding more than this many docs, only
    * representative-STAR pairs survive (every member paired with the
    * bucket's min-doc_id rep, O(|bucket|) rows) instead of the full cross
    * product (O(|bucket|²)). Dense buckets are near-identical-document
    * families — e.g. boilerplate replicated across a crawl — whose minima
    * agree in nearly every band; uncapped they dominate candidate volume
    * quadratically (the sf10 probe: 100-doc replica families × 32 bands
    * drove the containment sketch 6.6 s → 280 s, 42× for 10× rows). Under
    * the cap a true pair inside a dense bucket surfaces via its rep's star
    * or via any band where the pair's bucket is sparse; member–member
    * pairs of a family dense in EVERY band are reported only through the
    * rep — exactly the connectivity the downstream consumers (duplicate
    * clustering, canonical keep, leakage-safe split, ingest dup gate)
    * need, and the documented recall trade for unclogging the quadratic
    * hub term.
    */
  val bandBucketCap = 16L

  /** Banded candidate generation for [[containmentSketchJoin]], split out
    * so DedupSpec can pin the hub cap's candidate-volume bound directly.
    *
    * The cap costs no extra shuffle: per-side bucket size and rep come from
    * [[bucketStats]], and the star restriction rides IN the join condition,
    * so a dense bucket's cross product is iterated (cheap compares inside
    * SMJ) but never materialized into the distinct.
    */
  private[graft] def containmentSketchCandidates(sets: DataFrame,
      sigIn: DataFrame = null): DataFrame = {
    // ONE signature pass over the real sets, shared by both sides (and by
    // the caller's prefilter when passed in): the query side bands it
    // directly; the container side combines it with the (smaller) pad-only
    // signature below instead of re-hashing the real elements a second
    // time — minhash of a union is the elementwise least of the parts'
    // minhashes
    val sig =
      if (sigIn != null) sigIn else withSignature(sets).localCheckpoint()
    // query side: signature of A as-is
    val qBanded = bucketStats(bandedHashes(sig, cSketchBands, cSketchRows), "qn", "q_rep")
    // container side: pad B to M = 2^ceil(log2 |B|) with synthetic hashes
    // unique per (doc, position) — xxhash64 over a salt no shingle hash
    // path produces; the 2^-64 collision with a real shingle hash is the
    // same accepted tolerance as the hashed-posting design.
    // ceil with the same 1e-9 backoff as alphaOf: the double ln-ratio log2
    // can land fractionally ABOVE the integer at exact powers of two, which
    // would double M and silently halve those docs' padded collision
    // probability (recall-only, but avoidable)
    val m = pow(lit(2.0), ceil(log(2.0, col("sz")) - lit(1e-9))).cast("long")
    val padOnly = sets.select(col("doc_id"),
      when(m > col("sz"),
        transform(sequence(lit(1L), m - col("sz")),
          p => xxhash64(lit("containment-pad"), col("doc_id"), p)))
        .otherwise(array().cast(ArrayType(LongType))).as("shh"))
    val padSig = withSignature(padOnly).select(
      col("doc_id") +: (0 until numHashes).map(i => col(s"m$i").as(s"p$i")): _*)
    // left join: a doc already at a power-of-two size has no pad rows and
    // keeps its real minima (least skips the null pad side)
    val cSig = sig.join(padSig, Seq("doc_id"), "left")
      .select(col("doc_id") +:
        (0 until numHashes).map(i => least(col(s"m$i"), col(s"p$i")).as(s"m$i")): _*)
    val cBanded = bucketStats(bandedHashes(cSig, cSketchBands, cSketchRows), "cn", "c_rep")
    val dense = col("a.qn") > bandBucketCap || col("b.cn") > bandBucketCap
    // star around each side's OWN rep (guaranteed present in its bucket):
    // pairs kept in a dense bucket are (q_rep × every container) ∪
    // (every query × c_rep)
    qBanded.as("a")
      .join(cBanded.as("b"),
        col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash")
          && col("a.doc_id") =!= col("b.doc_id")
          && (!dense || col("a.doc_id") === col("a.q_rep")
            || col("b.doc_id") === col("b.c_rep")))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
  }

  /** Rows-only: the asymmetric banding isn't SQL-expressible; precision 1 /
    * recall vs the exact [[containmentJoin]] pinned in DedupSpec.
    */
  val q_dedup_containment_sketch: Q = Q("q_dedup_containment_sketch", None) { (s, d) =>
    containmentSketchJoin(Tables.documents(s, d), 0.8).orderBy("i", "j")
  }

  /** Bottom-k containment candidates — the DEFAULT approximate containment
    * path ([[containmentDedup]] delegates here), and the estimator that
    * covers the asymmetric-minhash sketch's documented blind spot (|B| ≫ |A|):
    * because [[hashedShingleSets]] keeps hashes SORTED, a doc's bottom-k
    * sketch is literally `slice(shh, 1, k)` — a uniform sample of its
    * shingle set under the hash order. Each sampled hash probes the full
    * posting index; per candidate pair, hits/k is an unbiased estimate of
    * |A∩B|/|A| REGARDLESS of |B| (membership of a sampled element of A in
    * B does not depend on B's size — exactly what the padded-signature
    * collision probability loses). Pairs clearing a slack-relaxed
    * threshold (t − 0.3, absorbing binomial spread at k = 16) go through
    * the shared exact rescore, so precision is 1 and the slack only costs
    * rescore volume. Per-doc probe cost is k posting lookups — a k/|A|
    * fraction of the exact path's candidate stream; hub hashes land in a
    * sketch only at their uniform rate.
    */
  private def kEffOf(k: Int)(sz: Column): Column = least(sz, lit(k))

  /** Minimum sampled hits the bottom-k estimator demands (slack 0.3
    * absorbs binomial spread at k = 16; epsilon-backoff as in alphaOf).
    */
  private def bkAlpha(t: Double, k: Int)(sz: Column): Column =
    ceil((lit(t) - lit(0.3)) * kEffOf(k)(sz) - lit(1e-9))

  /** Un-exchanged shingle frame: scan → kernel → size, NO repartition —
    * for consumers whose next operator re-partitions anyway (the posting
    * exchange, the candidate-pruned rescore joins). [[hashedShingleSets]]'
    * balancing exchange is a full corpus-width shuffle (the array column
    * IS the corpus), which the fourth-decade probe could not afford to
    * pay even once more than necessary.
    */
  private def unshuffledSets(docs: DataFrame): DataFrame =
    shingleHashes(balancedIfNarrow(docs))

  /** Scale-adaptive balancing for the compute-bound shingle kernel (r17,
    * guide §2.5 "input skew"): the kernel's parallelism is whatever the
    * scan gives it, and a corpus smaller than cores × maxPartitionBytes
    * arrives as FEWER partitions than cores — at sf0.1 ONE 30 MB file = ONE
    * task running every phase of the bottom-k pipeline serially (measured:
    * the pair join alone 537 ms in a single task). Above that size the scan
    * splits past the core count by itself and the exchange would be the
    * fourth-decade corpus-width shuffle [[bkSets]] exists to avoid — so the
    * repartition fires ONLY below it. The trigger reads Catalyst's
    * sizeInBytes estimate (driver-only, no job): exact for file scans,
    * conservatively huge for joins (which therefore keep today's
    * no-exchange behavior). Cost when it fires is bounded by definition:
    * < cores × maxPartitionBytes of text moves once.
    */
  private def balancedIfNarrow(docs: DataFrame): DataFrame =
    graft.util.Balance.ifNarrow(docs, col("doc_id"))

  /** The corpus materialization every bottom-k consumer reads: sorted
    * hashed shingle arrays, DISK_ONLY (8 bytes/gram — the COMPACT corpus
    * representation; exploded posting rows are ~4x wider), built WITHOUT
    * [[hashedShingleSets]]' balancing exchange — an eager checkpoint off
    * the scan means the write is the only corpus-scale disk this frame
    * ever costs (exchange + checkpoint concurrently was 2x that, which
    * mattered at the fourth decade).
    *
    * RECOMPUTE-VS-STORE knob (round 16 — the sf2000 probe died HERE, mid-
    * checkpoint at 46.4 GB peak with 47 GB free; single-host scratch
    * CAPACITY ~0.7 GB per million docs is the fifth decade's wall):
    * `spark.graft.bottomk.storeSets=false` skips the checkpoint, so every
    * consumer re-derives the arrays from the text scan + shingle kernel —
    * trading ~3–4 extra compiled scan passes (CPU, linear) for the entire
    * array checkpoint's disk (capacity, the binding constraint on a
    * disk-bound host; a cluster's aggregate disks dissolve it, so the
    * default stays `true`). DedupSpec pins knob-invariance of the join
    * results.
    */
  private[graft] def bkSets(docs: DataFrame): DataFrame = {
    val base = unshuffledSets(docs).filter(col("sz") > 0)
    val store = docs.sparkSession.conf
      .get("spark.graft.bottomk.storeSets", "true").toBoolean
    // LAZY checkpoint (r17): every consumer's next act is `sets.count()` to
    // size the shards, so eager-then-count paid two full passes over the
    // arrays (write blocks, then read them back to count). Lazily marked,
    // the count itself is the materializing action — one pass at any scale.
    if (store)
      base.localCheckpoint(false, org.apache.spark.storage.StorageLevel.DISK_ONLY)
    else base
  }

  /** Build-side row ceiling for the bottom-k broadcast semi-joins. A long
    * key costs ~32 B in a broadcast hash relation, so 64M rows ≈ 2 GB —
    * near the comfortable driver/executor ceiling at the default heap.
    */
  private val bkBroadcastRowCap = 64000000L

  /** Semi-join with an explicit broadcast guard (round-13 advice): the
    * build sides here (useful-hash set, candidate ids) are vocabulary-tail
    * / candidate scale at every probed decade, but past the documented
    * scales the failure mode of an unconditional broadcast is an opaque
    * driver OOM. `right` MUST be (at least lazily) checkpointed by the
    * caller so the count doubles as its materializing action and the
    * broadcast build reads cached blocks; above the cap we fall back to a
    * shuffled semi-join — one extra exchange of the probe side, but a plan
    * that completes and says why.
    */
  private def guardedSemiJoin(left: DataFrame, right: DataFrame,
      key: String): DataFrame = {
    val n = right.count()
    if (n <= bkBroadcastRowCap)
      left.join(broadcast(right), Seq(key), "left_semi")
    else {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"bottom-k semi-join build side has $n rows (> $bkBroadcastRowCap): " +
          "falling back to a shuffled semi-join instead of broadcasting")
      left.join(right.hint("shuffle_hash"), Seq(key), "left_semi")
    }
  }

  /** Bottom-k candidate generation, fourth-decade shape (SCALEPROBE
    * round-13). The sf100 decomposition dictates it: of 650M posting
    * rows, only 331k (0.05%) carry a hash shared by 2..dfCap docs — any
    * plan that shuffles the full posting stream to co-locate hashes (the
    * previous shape paid corpus-width disk three times over: DISK_ONLY
    * checkpoint + a hub-df aggregate whose map-side partials collapse
    * nothing + the probe-join posting exchange; it died of disk
    * exhaustion at 50M docs) moves ~2000x more bytes than the candidates
    * need. So:
    *
    *  1. df per hash from an H-ONLY aggregate over the array checkpoint —
    *     the narrowest possible exchange (one long per gram occurrence),
    *     SHARDED by h % shards and run sequentially: every occurrence of
    *     a hash lands in exactly one shard, so per-shard df is globally
    *     exact, and each shard's exchange is freed (eager checkpoint of
    *     the tiny useful set → lineage cut → ContextCleaner) before the
    *     next begins. Peak disk = one shard's exchange, whatever the
    *     corpus; shards = 1 below ~8M docs.
    *  2. the USEFUL set (2 ≤ df ≤ dfCap) is vocabulary-tail scale (165k
    *     hashes at 5M docs): df = 1 pairs a doc only with itself, and a
    *     hub gram shared by > dfCap docs costs Ω(df) candidate rows per
    *     probe while carrying almost no evidence (the PPJoin prefix-bound
    *     role). It BROADCASTS, so the posting stream is restricted
    *     MAP-SIDE — the corpus never shuffles for the pair join at all.
    *     (If a corpus outgrows the broadcast, shard the pair phase by the
    *     same h % S and union — same machinery, still map-side.)
    *  3. probes (pigeonhole prefix: a pair clearing α of kEff sampled
    *     hits must share one of the first kEff − α + 1 samples) × members
    *     join per hash on the tiny capped frame. Per-hash volume ≤ dfCap
    *     on BOTH sides (a doc probing h contains h, so
    *     probe-frequency(h) ≤ df(h)) — the pair join is skew-proof.
    *
    * Candidate volume is ≤ n·(kEff − α + 1)·dfCap by construction — the
    * pair-mass immunity that survives template-heavy corpora where banded
    * LSH's candidate stream grows with n². At 100 TB this is a sharded
    * word-count plus a broadcast semi-join — the cheapest shapes a
    * cluster has.
    */
  private[graft] def bottomKCandidates(sets: DataFrame, n: Long, t: Double,
      k: Int, dfCap: Int, symmetric: Boolean): DataFrame = {
    val spark = sets.sparkSession
    // h-only agg exchange ≈ 24 B per gram occurrence; ~8M docs per shard
    // keeps a shard's exchange ~15 GB at ~130 grams/doc. Configurable so
    // the S>1 path is exercisable below 8M docs (DedupSpec pins shard-
    // invariance: per-shard df is globally exact, so S never changes the
    // result) and tunable to a cluster's per-shard disk budget.
    val docsPerShard = spark.conf.getOption("spark.graft.bottomk.docsPerShard")
      .map(_.toLong).getOrElse(8000000L).max(1L)
    val shards = ((n - 1) / docsPerShard + 1L).toInt
    val parts = math.max(spark.sparkContext.defaultParallelism,
      (n / 16384L / shards + 1L).toInt)
    val postingH = sets.select(explode(col("shh")).as("h"))
    val useful = (0 until shards).map { s =>
      postingH
        .filter(if (shards > 1) pmod(col("h"), lit(shards)) === s else lit(true))
        .repartition(parts, col("h"))
        .groupBy("h").agg(count(lit(1)).as("df"))
        .filter(col("df") > 1 && col("df") <= dfCap).select("h")
        // single shard: LAZY — the guard's count() is the materializing
        // action, so df-agg and count run as one job (r17). Multi-shard
        // keeps the eager per-shard checkpoint: freeing each shard's
        // exchange before the next begins is the whole point of sharding.
        .localCheckpoint(eager = shards > 1)
    }.reduce(_ unionAll _)
    val capped = sets
      .select(col("doc_id"),
        (kEffOf(k)(col("sz")) - bkAlpha(t, k)(col("sz")) + 1).as("p"),
        posexplode_outer(col("shh")).as(Seq("pos", "h")))
      .filter(col("h").isNotNull)
      .select(col("doc_id"), (col("pos") < col("p")).as("is_probe"), col("h"))
    val cappedPruned = guardedSemiJoin(capped, useful, "h").localCheckpoint()
    val raw = cappedPruned.filter(col("is_probe"))
      .select(col("doc_id").as("i"), col("h"))
      .join(cappedPruned.select(col("doc_id").as("j"), col("h")), Seq("h"))
      .filter(col("i") =!= col("j"))
    // symmetric: unordered normalization BEFORE the distinct, so a pair
    // found probing from both sides collapses to one candidate row
    val pairs =
      if (symmetric)
        raw.select(least(col("i"), col("j")).as("i"),
          greatest(col("i"), col("j")).as("j"))
      else raw.select("i", "j")
    // checkpointed: THREE consumers (id prune x2, rescore join); distinct
    // (i, j) pairs, candidate-mass scale
    pairs.distinct().localCheckpoint()
  }

  /** The shh arrays of docs appearing in a candidate pair, pruned
    * MAP-SIDE: a broadcast semi-join on the distinct candidate ids sits
    * directly above the scan+kernel projection, so the rescore joins'
    * exchanges carry only candidate docs' arrays (~15% of the corpus at
    * the 5M-doc probe — the unpruned form billed 67 of 105 s to shipping
    * everyone's). If a corpus ever outgrows the id broadcast, a
    * bloom_filter_agg prune keeps the same shape with no precision cost.
    */
  private def candPrunedSets(sets: DataFrame, cands: DataFrame): DataFrame = {
    // explode, not union (r17): both ends of each pair emit from ONE pass
    // over the candidate checkpoint instead of two branch scans
    val candIds = cands
      .select(explode(array(col("i"), col("j"))).as("doc_id")).distinct()
      // lazy (r17): the guard's count() is the materializing action — the
      // distinct runs once, its blocks are cached for the semi-join build
      .localCheckpoint(eager = false)
    // checkpointed: BOTH rescore sides read this frame; materializing the
    // candidate-mass-scale prune once halves the checkpoint re-reads
    guardedSemiJoin(sets, candIds, "doc_id").localCheckpoint()
  }

  /** The one bottom-k join body behind [[containmentBottomKJoin]] and
    * [[jaccardBottomKJoin]]: df-capped candidates ([[bottomKCandidates]],
    * directed or normalized to unordered pairs), the candidate-pruned sets,
    * then the exact [[rescore]] behind the bottom-k estimator gate. The gate
    * reads the i side: for a kept pair C(i→j) ≥ t (a Jaccard-t pair has it
    * whichever side probed), so the slack-relaxed sampled-hits floor holds —
    * a cheap k-vs-set merge before the full intersect.
    */
  private def bottomKJoin(docs: DataFrame, t: Double, k: Int, dfCap: Int,
      symmetric: Boolean, score: Score): DataFrame = {
    val sets = bkSets(docs)
    // shard/partition sizing counts the already-checkpointed sets frame
    // (cached blocks), not the raw corpus — a second scan+shingle pass at
    // exactly the scale this shape targets (round-13 advice)
    val cands = bottomKCandidates(sets, sets.count(), t, k, dfCap, symmetric)
    val bkHits = graft.functions.ShingleHashFunctions.sortedIntersectCount(
      slice(col("shh_i"), lit(1), kEffOf(k)(col("sz_i")).cast("int")), col("shh_j"))
    rescore(cands, candPrunedSets(sets, cands), t, score,
      gate = Some(bkHits >= bkAlpha(t, k)(col("sz_i"))))
  }

  def containmentBottomKJoin(docs: DataFrame, t: Double, k: Int = 16,
      dfCap: Int = 64): DataFrame =
    bottomKJoin(docs, t, k, dfCap, symmetric = false, containmentScore)

  /** Rows-only; DedupSpec pins precision 1 / recall ≥ 0.9 vs the exact
    * join AND that a planted extreme-ratio containment (a small doc inside
    * a 10× larger one — the banded sketch's blind spot) is found.
    */
  val q_dedup_containment_bottomk: Q = Q("q_dedup_containment_bottomk", None) { (s, d) =>
    containmentBottomKJoin(Tables.documents(s, d), 0.8).orderBy("i", "j")
  }

  /** Bottom-k SYMMETRIC Jaccard candidates — the extreme-scale near-dup
    * path, and the fourth decade's answer to the banded family's bend:
    * the sf1000 probe (50M docs) killed [[minHashLshJoin]] on disk — the
    * banded self-join's candidate mass (737×/decade across the weak-
    * similarity background at decade 3) exhausted 66 GB of shuffle spill
    * before the prefilter ever saw a pair, the same failure mode that
    * demoted the containment sketch a round earlier. Pair mass is the
    * quadratic term, and no post-banding filter changes that asymptote;
    * the df-capped posting probe bounds it BY CONSTRUCTION instead:
    * candidates ≤ n · (kEff − α + 1) · dfCap, linear in the corpus no
    * matter how much near-threshold template mass it carries.
    *
    * Correctness riders on the containment estimator: J(A,B) ≥ t implies
    * |A∩B|/|A| ≥ t (|A∪B| ≥ |A|), so the directed bottom-k candidate
    * generation at threshold t is a SUPERSET generator for Jaccard-t
    * pairs — run from both sides (every doc probes), normalized to
    * unordered pairs, estimator-gated with the same slack-0.3 binomial
    * margin, then exact-rescored so precision is 1. Recall paths double
    * vs the directed join (a pair survives if EITHER side's sampled
    * prefix hits), recall loss concentrates where all shared grams are
    * df-capped hubs — the documented trade the containment path already
    * carries, pinned ≥ 0.9 vs the exact PPJoin twin in DedupSpec.
    */
  def jaccardBottomKJoin(docs: DataFrame, t: Double, k: Int = 16,
      dfCap: Int = 64): DataFrame =
    bottomKJoin(docs, t, k, dfCap, symmetric = true, jaccardScore)

  /** DEFAULT symmetric near-dup entry — delegates to the pair-mass-immune
    * bottom-k join, the same demotion [[containmentDedup]] applied to its
    * sketch after the third decade: [[minHashLshJoin]] remains the
    * recall-study variant and the persisted/streaming index geometry
    * (frozen-parameter band hashes are what an incremental index can
    * store), but the batch default must be the plan that SURVIVES the
    * fourth decade (sf1000: banded died on disk at 50M docs; bottom-k
    * completed in the default heap — SCALEPROBE round-13).
    */
  def jaccardDedup(docs: DataFrame, t: Double, k: Int = 16,
      dfCap: Int = 64): DataFrame =
    jaccardBottomKJoin(docs, t, k, dfCap)

  /** Rows-only (sampled-prefix probes aren't SQL-expressible); DedupSpec
    * pins precision 1 / recall ≥ 0.9 vs the exact PPJoin twin and that
    * the threshold-exact planted pair survives.
    */
  val q_dedup_jaccard_bottomk: Q = Q("q_dedup_jaccard_bottomk", None) { (s, d) =>
    jaccardBottomKJoin(Tables.documents(s, d), 0.5).orderBy("i", "j")
  }

  // --------------------------------------------------------------- simhash

  /** 64-bit SimHash: majority vote per bit over shingle hashes, as explode →
    * 64 sum-aggregates in one groupBy pass (same codegen-friendly layout as
    * the MinHash signature; the old per-row 64-way array-aggregate tree was
    * interpreted). Vote > 0 → bit set; vote = 0 ties → bit clear, matching
    * the previous semantics.
    */
  def withSimHash(sets: DataFrame): DataFrame = {
    val votes = (0 until 64).map { b =>
      sum(shiftright(col("h"), b).bitwiseAND(1) * 2 - 1).as(s"v$b")
    }
    val simhash = (0 until 64)
      .map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L))
      .reduce(_.bitwiseOR(_))
    hashedPosting(sets)
      .groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), simhash.as("simhash"))
  }

  /** Near-dup pairs with Hamming distance ≤ 3 via 4×16-bit band buckets
    * (pigeonhole: ≤3 differing bits leave ≥1 of 4 bands identical — exact
    * recall for the Hamming predicate), then popcount verify.
    */
  def simHashJoin(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val hashed = withSimHash(hashedShingleSets(docs)).select(col("doc_id"), col("simhash"))
      .localCheckpoint()
    val banded = hashed.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map { c =>
        shiftright(col("simhash"), c * 16).bitwiseAND(0xFFFFL)
      }: _*)).as(Seq("chunk", "chunk_val")))
    banded.as("a")
      .join(banded.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.chunk_val") === col("b.chunk_val")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      // Hamming filter BEFORE the distinct — same result (hamming is a
      // function of the pair), but the 16-bit chunk buckets admit a
      // CHANCE-collision background of ~n²/2¹⁶ pairs that used to ship
      // through the distinct's exchange (≈15 GB at 5M docs, disk death a
      // decade later); filtered here it is iterated inside the join
      // (one xor+popcount per visit, codegen) and never hits a shuffle
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  val q_dedup_simhash: Q = Q("q_dedup_simhash", None) { (s, d) =>
    simHashJoin(Tables.documents(s, d)).orderBy("i", "j")
  }

  def all: Seq[Q] =
    Seq(q_dedup_exact, q_dedup_ngram_jaccard, q_dedup_containment,
      q_dedup_containment_sketch, q_dedup_containment_bottomk,
      q_dedup_jaccard_bottomk,
      q_dedup_minhash_lsh, q_dedup_simhash,
      q_dedup_clusters, q_dedup_clusters_lsh, q_dedup_canonical,
      q_dedup_canonical_lsh,
      q_graph_pagerank, q_decontaminate, q_dedup_passage, q_dedup_substring,
      q_split_leakage_safe, q_split_leakage_safe_lsh)
}
