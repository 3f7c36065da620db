package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.util.Tables

/** The probabilistic dedup paths (MinHash-LSH, SimHash) are not
  * SQL-expressible, so their correctness is pinned here against the exact
  * prefix-filtered set-similarity join (which IS oracle-checked).
  */
class DedupSpec extends SparkSpec {

  private def docs = Tables.documents(spark, sf())

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("prefix-filtered SSJ equals brute force (exact recall)") {
    val fast = pairSet(Dedup.setSimilarityJoin(docs, 0.5))
    // brute force: rescore EVERY pair
    val sets = Dedup.shingleSets(docs)
    val a = sets.select(col("doc_id").as("i"), col("sh").as("sh_i"), col("sz").as("sz_i"))
    val b = sets.select(col("doc_id").as("j"), col("sh").as("sh_j"), col("sz").as("sz_j"))
    val inter = size(array_intersect(col("sh_i"), col("sh_j")))
    val brute = a.join(b, col("i") < col("j"))
      .withColumn("jaccard", inter * lit(1.0) / (col("sz_i") + col("sz_j") - inter))
      .filter(col("jaccard") >= 0.5)
    assert(fast === pairSet(brute))
    assert(fast.nonEmpty) // the datagen plants near-dups; empty would be vacuous
  }

  test("containment join equals brute force (directed, exact recall)") {
    val fast = pairSet(Dedup.containmentJoin(docs, 0.8))
    val sets = Dedup.shingleSets(docs).filter(col("sz") > 0)
    val a = sets.select(col("doc_id").as("i"), col("sh").as("sh_i"), col("sz").as("sz_i"))
    val b = sets.select(col("doc_id").as("j"), col("sh").as("sh_j"))
    val inter = size(array_intersect(col("sh_i"), col("sh_j")))
    val brute = a.join(b, col("i") =!= col("j"))
      .withColumn("containment", inter * lit(1.0) / col("sz_i"))
      .filter(col("containment") >= 0.8)
    assert(fast === pairSet(brute))
    assert(fast.nonEmpty)
    // directionality is real: exact mutual dups appear in both directions,
    // and the relation is not required to be symmetric in general
    assert(fast.forall { case (i, j) => i != j })
  }

  test("leakage-safe split: no near-dup pair straddles two splits; doc split would") {
    val assign = Dedup.leakageSafeAssignments(docs)
      .select("doc_id", "split")
    val pairs = Dedup.setSimilarityJoin(docs, 0.5).select("i", "j")
    val straddling = pairs
      .join(assign.withColumnRenamed("doc_id", "i").withColumnRenamed("split", "si"), "i")
      .join(assign.withColumnRenamed("doc_id", "j").withColumnRenamed("split", "sj"), "j")
    assert(straddling.filter(col("si") =!= col("sj")).count() === 0,
      "a duplicate cluster crossed the train/test boundary")
    assert(straddling.count() > 0, "vacuous without near-dup pairs")
    // the naive per-DOC hash split (q_sample_split's scheme) does leak on
    // this corpus — which is the point of clustering first
    val docSplit = assign.select(col("doc_id"),
      when(substring(md5(concat(lit("csplit-"), col("doc_id").cast("string"))
        .cast(org.apache.spark.sql.types.BinaryType)), 1, 2) < "cc", "train")
        .otherwise("other").as("split"))
    val naive = pairs
      .join(docSplit.withColumnRenamed("doc_id", "i").withColumnRenamed("split", "si"), "i")
      .join(docSplit.withColumnRenamed("doc_id", "j").withColumnRenamed("split", "sj"), "j")
      .filter(col("si") =!= col("sj")).count()
    assert(naive > 0, "expected the per-doc split to leak on planted near-dups")
  }

  test("LSH canonical: one keep per cluster, bounded keep-flips vs exact") {
    val exact = graft.SparkEntry.queries("q_dedup_canonical")(spark, sf())
      .select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val lshDf = graft.SparkEntry.queries("q_dedup_canonical_lsh")(spark, sf())
    // policy invariant: exactly one keep per cluster, always
    val badClusters = lshDf.groupBy("cluster_id")
      .agg(sum(col("keep").cast("int")).as("keeps"))
      .filter(col("keeps") =!= 1).count()
    assert(badClusters === 0, "a cluster kept zero or several members")
    val lsh = lshDf.select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // the sketch sees the same paired-doc universe only up to recall; flips
    // (doc present in both with a different keep verdict, or fragmenting a
    // cluster) must stay a small residual of the paired population
    val common = exact.keySet intersect lsh.keySet
    assert(common.nonEmpty)
    val flips = common.count(id => exact(id) != lsh(id))
    assert(flips.toDouble / common.size <= 0.1,
      s"$flips keep-flips over ${common.size} shared paired docs")
  }

  test("LSH split: no DETECTED pair straddles; bounded assignment flips vs exact") {
    val lshPairs = Dedup.minHashLshJoin(docs, 0.5).select("i", "j").localCheckpoint()
    val assign = Dedup.leakageSafeAssignmentsFrom(docs, lshPairs)
      .select("doc_id", "split").localCheckpoint()
    val straddling = lshPairs
      .join(assign.withColumnRenamed("doc_id", "i").withColumnRenamed("split", "si"), "i")
      .join(assign.withColumnRenamed("doc_id", "j").withColumnRenamed("split", "sj"), "j")
    assert(straddling.filter(col("si") =!= col("sj")).count() === 0,
      "a detected near-dup pair crossed the split boundary")
    assert(straddling.count() > 0, "vacuous without detected pairs")
    val exact = Dedup.leakageSafeAssignments(docs).select("doc_id", "split")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = assign.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.keySet === exact.keySet, "split must cover every document")
    val flips = exact.count { case (id, s) => got(id) != s }
    assert(flips.toDouble / exact.size <= 0.1,
      s"$flips split flips over ${exact.size} docs")
  }

  test("containment sketch: precision 1 (rescored) and recall >= 0.9 vs exact") {
    val exact  = pairSet(Dedup.containmentJoin(docs, 0.8))
    val sketch = pairSet(Dedup.containmentSketchJoin(docs, 0.8))
    assert(sketch.subsetOf(exact), "exact rescore guarantees no false positives")
    val recall = sketch.size.toDouble / exact.size
    assert(recall >= 0.9,
      s"asymmetric-minhash recall $recall below floor (32 bands x 2 rows)")
    // directionality survives the sketch: i is the contained side
    assert(sketch.forall { case (i, j) => i != j })
  }

  test("minhash signature kernel equals the aggregate formulation bit-for-bit") {
    // the one-pass kernel must reproduce min(xxhash64(h, i)) over the
    // exploded postings EXACTLY — persisted LSH indexes built before the
    // kernel swap must keep answering probes built after it
    val sets = Dedup.hashedShingleSets(docs).localCheckpoint()
    val viaKernel = Dedup.withSignature(sets).drop("sz")
    val viaAgg = sets
      .select(col("doc_id"), explode(col("shh")).as("h"))
      .groupBy("doc_id")
      .agg(min(xxhash64(col("h"), lit(0))).as("m0"),
        (1 until Dedup.numHashes).map(i =>
          min(xxhash64(col("h"), lit(i))).as(s"m$i")): _*)
    assert(viaKernel.count() === viaAgg.count())
    assert(viaKernel.exceptAll(viaAgg).isEmpty && viaAgg.exceptAll(viaKernel).isEmpty)
    // a shingle-less doc vanishes from the frame, as the explode form did
    val spark2 = spark
    import spark2.implicits._
    val withEmpty = Seq((1L, "alpha beta gamma delta epsilon zeta"), (2L, ""))
      .toDF("doc_id", "text")
      .withColumn("source", lit("synthetic")).withColumn("n_chars", lit(0))
    val sigs = Dedup.withSignature(Dedup.hashedShingleSets(withEmpty))
    assert(sigs.select("doc_id").collect().map(_.getLong(0)).toSet === Set(1L))
  }

  test("containment sketch: hub buckets star-capped, connectivity kept") {
    // a 150-doc near-identical family (the boilerplate / replica-crawl
    // shape): shared 60-token base + a 2-token unique tag, so every
    // directed pair is a TRUE containment (~58/62 > 0.8) and the family
    // shares 2-row band hashes in nearly every band. Uncapped, the band
    // join would emit ~n^2 candidates (the sf10 42x blow-up); the hub cap
    // must keep candidates star-bounded while the rescored OUTPUT still
    // links every member into the family.
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val n = 150
    val famIds = (1 to n).map(k => 200000L + k)
    val spark2 = spark
    import spark2.implicits._
    val fam = famIds.map(id => (id, s"$base tagA$id tagB$id"))
      .toDF("doc_id", "text")
      .withColumn("source", lit("synthetic")).withColumn("n_chars", lit(0))
    val sets = Dedup.hashedShingleSets(fam)
      .filter(col("sz") > 0).localCheckpoint()
    val nCands = Dedup.containmentSketchCandidates(sets).count()
    assert(nCands < 20L * n,
      s"hub candidates not star-bounded: $nCands vs quadratic ~${n * (n - 1)}")
    val pairs = pairSet(Dedup.containmentSketchJoin(fam, 0.8))
    assert(pairs.nonEmpty && pairs.forall { case (i, j) => i != j })
    val linked = pairs.flatMap { case (i, j) => Seq(i, j) }
    assert(famIds.toSet.subsetOf(linked),
      s"star must keep every family member reachable; missing ${famIds.toSet -- linked}")
  }

  test("minhash-LSH hub family: star-capped output, every member linked") {
    // 150 near-identical docs (Jaccard ~0.88 > 0.5): uncapped banding
    // would emit all ~n^2/2 true pairs; the hub cap must keep the output
    // star-bounded while still linking every member into the family
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val n = 150
    val famIds = (1 to n).map(k => 300000L + k)
    val spark2 = spark
    import spark2.implicits._
    val fam = famIds.map(id => (id, s"$base tagA$id tagB$id"))
      .toDF("doc_id", "text")
      .withColumn("source", lit("synthetic")).withColumn("n_chars", lit(0))
    val pairs = pairSet(Dedup.minHashLshJoin(fam, 0.5))
    assert(pairs.nonEmpty && pairs.size < 20 * n,
      s"hub output not star-bounded: ${pairs.size} vs quadratic ~${n * (n - 1) / 2}")
    val linked = pairs.flatMap { case (i, j) => Seq(i, j) }
    assert(famIds.toSet.subsetOf(linked),
      s"star must keep every member linked; missing ${famIds.toSet -- linked}")
  }

  test("LSH index probe: hub bucket in the index answers via its rep") {
    val base = (1 to 60).map(i => s"v$i").mkString(" ")
    val n = 120
    val famIds = (1 to n).map(k => 400000L + k)
    val spark2 = spark
    import spark2.implicits._
    def mk(ids: Seq[Long]) = ids.map(id => (id, s"$base tagA$id tagB$id"))
      .toDF("doc_id", "text")
      .withColumn("source", lit("synthetic")).withColumn("n_chars", lit(0))
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh-hub").toString + "/idx"
    Dedup.lshIndexBuild(mk(famIds), dir)
    // ingest order: the new member is merged into the index, then probed
    val newId = 400000L + n + 1
    val rows = Dedup.lshIndexRows(mk(Seq(newId)))
    graft.io.SnapshotTable.merge(spark, dir, rows, "doc_id")
    val pairs = pairSet(Dedup.lshIndexProbe(rows, dir, 0.5))
    assert(pairs.exists { case (i, j) => i == newId || j == newId },
      s"probe must link the new member into the hub family: $pairs")
    assert(pairs.size < 60,
      s"hub probe not star-bounded: ${pairs.size} pairs for one probe doc")
  }

  test("LSH index probe explodes the given index rows: no kernel runs") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import graft.functions.{MinHashSignature, WordShingleHashes}
    val spark2 = spark
    import spark2.implicits._
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    def mk(ids: Seq[Long]) = ids.map(id => (id, s"$base tag$id")).toDF("doc_id", "text")
      .withColumn("source", lit("synthetic")).withColumn("n_chars", lit(0))
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh-probe").toString + "/idx"
    Dedup.lshIndexBuild(mk(1L to 20L), dir)
    // ingest order: the new doc's rows are built once, merged into the
    // index, then probed
    val rows = Dedup.lshIndexRows(mk(Seq(21L))).localCheckpoint()
    graft.io.SnapshotTable.merge(spark, dir, rows, "doc_id")
    def kernels(plan: LogicalPlan): Seq[String] =
      plan.flatMap(_.expressions.flatMap(_.collect {
        case e: WordShingleHashes => e.prettyName
        case e: MinHashSignature => e.prettyName
      }))
    // every query the probe executes (its eager checkpoints included)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = { seen.add(qe); () }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = { seen.add(qe); () }
    }
    def named(qe: QueryExecution, n: String) = qe.analyzed.output.exists(_.name == n)
    // listener events arrive in order but asynchronously: once a sentinel
    // query is seen, every execution that ended before it has been too
    def sentinel(n: String): Unit = {
      spark.range(1).toDF(n).collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.asScala.exists(named(_, n)) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen.asScala.exists(named(_, n)), s"query listener never saw $n")
    }
    spark.listenerManager.register(listener)
    val (probe, pairs, during) =
      try {
        sentinel("__before") // late events of the index build land before it
        val p = Dedup.lshIndexProbe(rows, dir, 0.5)
        val got = pairSet(p)
        sentinel("__after")
        (p, got, seen.asScala.toSeq.dropWhile(!named(_, "__before")).drop(1))
      } finally spark.listenerManager.unregister(listener)
    assert(pairs.exists { case (i, j) => i == 21L || j == 21L },
      s"probe must link the new doc to its near-duplicates: $pairs")
    assert(kernels(probe.queryExecution.optimizedPlan).isEmpty)
    val ran = during.flatMap(qe => kernels(qe.optimizedPlan)).distinct
    assert(ran.isEmpty, s"probe executed kernel expressions: $ran")
  }

  test("bottom-k containment: precision 1, recall >= 0.9, finds extreme ratios") {
    val exact = pairSet(Dedup.containmentJoin(docs, 0.8))
    val bk = pairSet(Dedup.containmentBottomKJoin(docs, 0.8))
    assert(bk.subsetOf(exact), "exact rescore guarantees no false positives")
    val recall = bk.size.toDouble / exact.size
    assert(recall >= 0.9, s"bottom-k recall $recall below floor (k=16, slack 0.3)")
    // the banded sketch's blind spot: a small doc fully inside a 10x
    // larger one. Plant it and the bottom-k path must find the DIRECTED
    // pair (small ⊆ big); padded-signature collision probability decays
    // with the size ratio, the membership sample does not.
    import org.apache.spark.sql.functions.lit
    val small = (1 to 30).map(i => s"tok$i").mkString(" ")
    val big = small + " " + (1 to 300).map(i => s"pad$i").mkString(" ")
    val spark2 = spark
    import spark2.implicits._
    val planted = Seq((100001L, small), (100002L, big)).toDF("doc_id", "text")
      .withColumn("source", lit("synthetic")).withColumn("n_chars", lit(0))
    val found = pairSet(Dedup.containmentBottomKJoin(planted, 0.8))
    assert(found.contains((100001L, 100002L)),
      s"extreme-ratio containment missed: $found")
  }

  test("containmentDedup default routes to the bottom-k join (r12 verdict #1)") {
    // the DEFAULT containment path must be the pair-mass-immune estimator,
    // pair-for-pair — so the recall/precision pins above transfer to it
    val dflt = pairSet(Dedup.containmentDedup(docs, 0.8))
    val bk = pairSet(Dedup.containmentBottomKJoin(docs, 0.8))
    assert(dflt == bk, "containmentDedup must delegate to the bottom-k join")
    assert(dflt.subsetOf(pairSet(Dedup.containmentJoin(docs, 0.8))),
      "default containment path lost exact-rescore precision")
  }

  test("minhash-LSH: precision 1 (rescored) and high recall vs exact join") {
    val exact = pairSet(Dedup.setSimilarityJoin(docs, 0.5))
    val lsh   = pairSet(Dedup.minHashLshJoin(docs, 0.5))
    assert(lsh.subsetOf(exact), "rescoring guarantees no false positives")
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall below floor (16 bands x 4 rows at j>=0.8)")
  }

  test("bottom-k jaccard: precision 1, recall >= 0.9 vs exact, default routes there") {
    // r13: the symmetric twin of the containment bottom-k estimator — the
    // fourth decade's pair-mass-immune default (banded LSH died on disk at
    // 50M docs; see SCALEPROBE round-13)
    val exact = pairSet(Dedup.setSimilarityJoin(docs, 0.5))
    val bk = pairSet(Dedup.jaccardBottomKJoin(docs, 0.5))
    assert(bk.subsetOf(exact), "exact rescore guarantees no false positives")
    val recall = bk.size.toDouble / exact.size
    assert(recall >= 0.9, s"bottom-k jaccard recall $recall below floor")
    assert(pairSet(Dedup.jaccardDedup(docs, 0.5)) == bk,
      "jaccardDedup must delegate to the bottom-k join")
  }

  test("bottom-k sharded df aggregate: S=4 is result-identical to S=1") {
    // the h%S-sharded df phase is the fourth decade's disk-bounding device
    // (one shard's exchange at a time), but below 8M docs it always ran
    // with S=1 — this pins the invariance argument (a hash lives in
    // exactly one shard, so per-shard df is globally exact) by executing
    // the S>1 path and requiring pair-identical output for BOTH joins
    val n = docs.count()
    val docsPerShard = math.max(1L, (n + 3L) / 4L) // forces S = 4
    val cont1 = pairSet(Dedup.containmentBottomKJoin(docs, 0.8))
    val jac1 = pairSet(Dedup.jaccardBottomKJoin(docs, 0.5))
    spark.conf.set("spark.graft.bottomk.docsPerShard", docsPerShard.toString)
    try {
      assert(pairSet(Dedup.containmentBottomKJoin(docs, 0.8)) == cont1,
        "sharded (S=4) containment candidates diverge from S=1")
      assert(pairSet(Dedup.jaccardBottomKJoin(docs, 0.5)) == jac1,
        "sharded (S=4) jaccard candidates diverge from S=1")
    } finally spark.conf.unset("spark.graft.bottomk.docsPerShard")
  }

  test("bottom-k storeSets=false (recompute mode) is result-identical") {
    // round 16: the recompute-vs-store knob for disk-bound hosts — the
    // sf2000 probe died mid-bkSets checkpoint on scratch CAPACITY, so
    // storeSets=false trades extra shingle-kernel scan passes for the
    // whole array checkpoint's disk. The knob may only change WHERE the
    // arrays come from, never the pairs.
    val cont1 = pairSet(Dedup.containmentBottomKJoin(docs, 0.8))
    val jac1 = pairSet(Dedup.jaccardBottomKJoin(docs, 0.5))
    spark.conf.set("spark.graft.bottomk.storeSets", "false")
    try {
      assert(pairSet(Dedup.containmentBottomKJoin(docs, 0.8)) == cont1,
        "recompute-mode containment pairs diverge from stored-mode")
      assert(pairSet(Dedup.jaccardBottomKJoin(docs, 0.5)) == jac1,
        "recompute-mode jaccard pairs diverge from stored-mode")
    } finally spark.conf.unset("spark.graft.bottomk.storeSets")
  }

  test("signature prefilter: threshold-exact pairs survive both banded joins") {
    // a pair at jaccard EXACTLY t is the prefilter's worst legitimate
    // customer: its lane estimate must clear t − 0.25 (the 4σ margin), so
    // losing it would mean the margin math is off. Plant overlap/union
    // ratios that land exactly on the thresholds: 30 shared + 30 unique
    // grams each side → j = 30/90 ≈ 0.33... use 45 shared, 15+15 unique:
    // j = 45/75 = 0.6 ≥ 0.5 (symmetric), and a directed pair with
    // |A∩B| = 0.8|A| exactly: A = 40 grams, 32 shared, B = 64 grams.
    import spark.implicits._
    def words(tag: String, n: Int): Seq[String] =
      (0 until n).map(i => s"$tag$i")
    def text(ws: Seq[String]): String = ws.mkString(" ")
    // shingles are word 3-grams; isolate memberships with distinct blocks
    // joined by unique separators so gram sets are block-local
    val shared = words("s", 47) // 45 3-grams
    val ua = words("a", 17) // 15
    val ub = words("b", 17)
    val jdocs = Seq(
      (1L, text(shared ++ Seq("qqa1", "qqa2") ++ ua)),
      (2L, text(shared ++ Seq("qqb1", "qqb2") ++ ub)),
      // directed containment plant at EXACTLY 0.8: A = c-block (32 grams
      // shared with B) + f-tail (8 own grams incl. the 2 boundary grams)
      // → |A| = 40 grams, |A∩B| = 32 = 0.8|A|
      (3L, text(words("c", 34) ++ words("f", 8))),
      (4L, text(words("c", 34) ++ Seq("zz1", "zz2") ++ words("d", 30))))
      .toDF("doc_id", "text")
    val lsh = Dedup.minHashLshJoin(jdocs, 0.5)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.contains((1L, 2L)),
      "threshold-exact jaccard pair lost (prefilter margin too tight?)")
    val cont = Dedup.containmentSketchJoin(jdocs, 0.8)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cont.contains((3L, 4L)),
      "threshold-exact containment pair lost (directed bound or margin off?)")
    // the bottom-k symmetric join must keep the same threshold-exact pair:
    // its estimator gate is slack-relaxed (t − 0.3), so a pair AT t has
    // full binomial margin — losing it would mean the gate or the
    // unordered normalization is wrong
    val bk = Dedup.jaccardBottomKJoin(jdocs, 0.5)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bk.contains((1L, 2L)),
      "threshold-exact jaccard pair lost by the bottom-k join")
  }

  test("simhash: hamming bound respected and pairs are true near-dups") {
    val sh = Dedup.simHashJoin(docs).collect()
    assert(sh.forall(_.getAs[Int]("hamming") <= 3))
    assert(sh.nonEmpty)
    // every simhash pair should be at least weakly similar by jaccard
    // (planted near-dups sit at >=0.8; random pairs at <0.1 — a simhash
    // collision across that gap would be a red flag)
    val weak = pairSet(Dedup.setSimilarityJoin(docs, 0.3))
    assert(pairSet(Dedup.simHashJoin(docs).select(col("i"), col("j"))).subsetOf(weak))
  }

  test("native shingle kernel equals the HOF formulation, incl. edge strings") {
    import spark.implicits._
    val edge = Seq(
      "", "a", "a b", "a b c", "a b c d",
      "a  b  c", " a b c ", "   ", "é ü 嗨 x", "a b c b a b c",
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val corpus = docs.select("doc_id", "text").unionByName(
      edge.withColumn("doc_id", col("doc_id") + 1000000L))
    val hof = corpus.select(col("doc_id"),
      Dedup.shingles(split(col("text"), " ")).as("sh_hof"))
    val native = Dedup.shingleSets(corpus).select(col("doc_id"), col("sh").as("sh_native"))
    val diff = native.join(hof, "doc_id")
      .filter(array_sort(col("sh_native")) =!= array_sort(col("sh_hof")))
    assert(diff.count() === 0)
  }

  test("connected components: valid partition of the dup-pair graph") {
    val pairs = Dedup.setSimilarityJoin(docs, 0.5)
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ps = pairSet(pairs)
    assert(ps.nonEmpty && cc.nonEmpty)
    // every paired doc is labeled, endpoints of every edge share a cluster
    assert(ps.forall { case (i, j) => cc(i) == cc(j) })
    // each cluster's label is its minimum member (canonical id)
    val byLabel = cc.groupBy(_._2).map { case (l, m) => l -> m.keys.min }
    assert(byLabel.forall { case (l, minMember) => l == minMember })
    // hand-built transitive chain: a-b, b-c, d-e → {a,b,c}, {d,e}
    import spark.implicits._
    val chain = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("i", "j")
    val got = Dedup.connectedComponents(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("alternating star CC equals min-label propagation; chains converge in O(log n)") {
    import spark.implicits._
    // same labels as propagation on the real duplicate graph
    val pairs = Dedup.setSimilarityJoin(docs, 0.5).select("i", "j")
    def labelMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labelMap(Dedup.connectedComponentsAlternating(pairs)) ===
      labelMap(Dedup.connectedComponents(pairs)))
    // a 128-node path graph: propagation needs O(n) rounds (the round cap
    // would truncate it); the star algorithm contracts it in O(log n)
    val chain = (0L until 127L).map(k => (k, k + 1)).toDF("i", "j")
    val (labels, rounds) = Dedup.alternatingWithRounds(chain)
    val got = labelMap(labels)
    assert(got.size === 128 && got.values.forall(_ == 0L),
      "every chain node must label to the component minimum")
    assert(rounds <= 20, s"chain of 128 took $rounds rounds — not O(log n)")
  }

  test("hybrid CC: propagation path and chain-fallback path both canonical") {
    import spark.implicits._
    // real dup graph (diameter 2-3): the hybrid must take the propagation
    // path and agree with both base algorithms
    val pairs = Dedup.setSimilarityJoin(docs, 0.5).select("i", "j")
    def labelMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labelMap(Dedup.connectedComponentsHybrid(pairs)) ===
      labelMap(Dedup.connectedComponents(pairs)))
    // 64-node path graph with a cap below its diameter: propagation cannot
    // converge, so the hybrid must fall back to alternating-star and still
    // produce canonical labels
    val chain = (0L until 63L).map(k => (k, k + 1)).toDF("i", "j")
    val got = labelMap(Dedup.connectedComponentsHybrid(chain, propagationCap = 4))
    assert(got.size === 64 && got.values.forall(_ == 0L))
  }

  test("canonical selection keeps exactly the longest member per cluster") {
    val rows = graft.SparkEntry.queries("q_dedup_canonical")(spark, sf())
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (cluster, members) =>
      assert(members.count(_._5) === 1, s"cluster $cluster must keep exactly one")
      // keep = argmax by (n_chars desc, doc_id asc)
      val want = members.minBy(m => (-m._4, m._1))._1
      assert(members.find(_._5).get._1 === want, s"wrong canonical in $cluster")
      // cluster_size column agrees with the actual member count
      assert(members.forall(_._3 === members.size.toLong))
    }
  }

  test("pagerank: teleport floor, bounded mass, and node set = paired docs") {
    val rows = graft.SparkEntry.queries("q_graph_pagerank")(spark, sf())
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.nonEmpty)
    val R0 = 1000000000000L
    val T = 150000000000L
    // every node keeps at least its teleport mass
    assert(rows.values.forall(_ >= T))
    // integer truncation only LOSES mass: total never exceeds N·R0
    assert(rows.values.sum <= rows.size * R0)
    // scored nodes are exactly the docs participating in a dup pair
    val pairs = pairSet(Dedup.setSimilarityJoin(docs, 0.5)).toSeq
    val paired = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    assert(rows.keySet === paired)
    // the distributed iterate equals a driver-side reference computation of
    // the identical fixed-point recurrence (same truncating integer ops)
    val adj = (pairs ++ pairs.map(p => (p._2, p._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val deg = adj.view.mapValues(_.size.toLong).toMap
    var ref = paired.iterator.map(_ -> R0).toMap
    for (_ <- 1 to 6) {
      val inc = pairs.flatMap(p => Seq(p._1 -> ref(p._2) / deg(p._2),
                                       p._2 -> ref(p._1) / deg(p._1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      ref = paired.iterator.map(n => n -> (T + 85 * inc.getOrElse(n, 0L) / 100)).toMap
    }
    assert(rows === ref)
  }

  test("gate queries leave no CacheManager entries behind") {
    spark.catalog.clearCache()
    Dedup.q_dedup_ngram_jaccard.run(spark, sf()).write.format("noop").mode("overwrite").save()
    Dedup.q_dedup_clusters.run(spark, sf()).write.format("noop").mode("overwrite").save()
    // all internal materialization is localCheckpoint (ContextCleaner-owned);
    // an owner-less persist would surface here as a leaked entry
    assert(spark.sharedState.cacheManager.isEmpty,
      "dedup gate queries must not leak CacheManager entries")
  }

  test("LSH-fed clustering: co-membership precision 1, recall >= 0.9 vs exact") {
    def coMembership(q: graft.util.Q): Set[(Long, Long)] = {
      val byCluster = q.run(spark, sf())
        .select("doc_id", "cluster_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .groupBy(_._2).values.map(_.map(_._1).sorted.toSeq)
      byCluster.flatMap(m => for (i <- m; j <- m if i < j) yield (i, j)).toSet
    }
    val exact = coMembership(Dedup.q_dedup_clusters)
    val lsh   = coMembership(Dedup.q_dedup_clusters_lsh)
    // LSH edges are a rescored subset of the exact edges, and components of
    // a subgraph are finer — so LSH co-membership can never invent a pair
    assert(lsh.subsetOf(exact), "LSH clusters must refine the exact clusters")
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH cluster co-membership recall $recall below floor")
  }

  test("exact dedup groups by normalized content") {
    val out = Dedup.q_dedup_exact.run(spark, sf())
    val total = out.agg(sum("n_copies")).collect()(0).getLong(0)
    assert(total === docs.count())
  }

  test("rows-only near-dup queries: SHA-256 of the sorted output rows stays pinned") {
    // Verify checks these queries only for rows > 0; the digests pin every
    // row. Each was the same under local[1] and local[4] when captured.
    val pinned = Seq(
      "q_dedup_containment_sketch" ->
        "c29febce6eba540a67dbfa1c11a84b29f69df7b40a51e5776f36a8a456f4fe2c",
      "q_dedup_containment_bottomk" ->
        "c29febce6eba540a67dbfa1c11a84b29f69df7b40a51e5776f36a8a456f4fe2c",
      "q_dedup_jaccard_bottomk" ->
        "8478b5902cbd782e2efe126d7bdf4844abf8dab6f675fc23c9775e565675b55a",
      "q_dedup_minhash_lsh" ->
        "8478b5902cbd782e2efe126d7bdf4844abf8dab6f675fc23c9775e565675b55a",
      "q_dedup_simhash" ->
        "42c2873118bcb8948b690805c20e79a9b7087422911a7687e0a76dd17a75fa50",
      "q_dedup_clusters_lsh" ->
        "e40675eea592ee62db64bd0a1f3b7a4a61c3b378d2ab75b6f77c0b99f92d7905",
      "q_dedup_canonical_lsh" ->
        "575a3e7905fb8f46ebe7c06637f7e0f490fc1130f3ce15221d166312996661b0",
      "q_split_leakage_safe_lsh" ->
        "38418534445e756262fd382e7810b7b91c839c39f0251e8c0562a1c81ba76fa8",
      "q_curate_verdict_lsh" ->
        "5973071b520fab58070f95368b21e93a390fff232b29008c38caf5b5889ba869",
      "q_pipeline_e2e_lsh" ->
        "9dc430632b923f750fbab2ac516b29e696ed24a2230410f95fff2f9df3358e7a")
    def digest(q: String): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      graft.SparkEntry.queries(q)(spark, sf()).collect().map(_.toString).sorted
        .foreach(r => md.update((r + "\n").getBytes("UTF-8")))
      md.digest().map(b => f"${b & 0xff}%02x").mkString
    }
    val got = pinned.map { case (q, _) => q -> digest(q) }
    assert(got === pinned)
  }
}
