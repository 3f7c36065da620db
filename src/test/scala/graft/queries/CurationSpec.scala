package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.text.TextAnalysis
import graft.util.Tables

class CurationSpec extends SparkSpec {

  test("LSH verdict: flips only through the duplicate gate, monotone and bounded") {
    def byDoc(name: String): Map[Long, (Boolean, Boolean, Boolean, Boolean, Boolean, Boolean, String)] =
      graft.SparkEntry.queries(name)(spark, sf()).collect().map { r =>
        r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3),
          r.getBoolean(4), r.getBoolean(5), r.getBoolean(6), r.getString(7))
      }.toMap
    val exact = byDoc("q_curate_verdict")
    val lsh = byDoc("q_curate_verdict_lsh")
    assert(lsh.keySet === exact.keySet, "same corpus, same verdict universe")
    var added = 0
    lsh.foreach { case (id, (dupL, contL, langL, qualL, repL, keepL, _)) =>
      val (dupE, contE, langE, qualE, repE, keepE, _) = exact(id)
      // every non-dup gate is byte-identical
      assert((contL, langL, qualL, repL) === ((contE, langE, qualE, repE)),
        s"non-duplicate gate drifted for doc $id")
      // the LSH dup gate is a superset of the exact-fingerprint gate
      assert(!dupE || dupL, s"doc $id lost its exact-duplicate flag")
      if (dupL && !dupE) {
        added += 1
        // a dup-gate flip can only ever REVOKE a keep
        assert(!keepL || keepE === keepL)
      }
      if (dupL == dupE) assert(keepL === keepE, s"keep flipped without dup evidence for $id")
    }
    assert(added > 0, "vacuous: the corpus plants near-dups the sketch should flag")
    assert(added.toDouble / exact.size <= 0.25,
      s"$added near-dup-induced flips over ${exact.size} docs")
  }

  test("pipeline e2e totals reconcile with the verdict keep set") {
    val e2e = graft.SparkEntry.queries("q_pipeline_e2e")(spark, sf()).collect()
    val kept = graft.SparkEntry.queries("q_curate_verdict")(spark, sf())
      .filter(col("keep")).count()
    // every kept doc lands in exactly one (split, source) row
    assert(e2e.map(_.getAs[Long]("n_docs")).sum === kept)
    // pack counts are positive and can't exceed doc counts... no — a pack
    // holds many docs; the real bound: n_packs <= n_docs is false in
    // general only when docs are tiny; what must hold is n_packs >= 1 and
    // the budget arithmetic n_packs >= ceil(n_tokens/256) is NOT exact
    // (overflow spill), but n_packs <= n_tokens/256 + 1 per group is
    e2e.foreach { r =>
      val (nt, np) = (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_packs"))
      assert(np >= 1L && np <= nt / 256 + 1, s"pack bound broke: $r")
    }
    assert(e2e.map(_.getString(0)).toSet.subsetOf(Set("train", "val", "test")))
    // the LSH production twin reconciles against ITS OWN keep set (the
    // near-dup gate removes more docs than the exact-fingerprint one)
    val lsh = graft.SparkEntry.queries("q_pipeline_e2e_lsh")(spark, sf()).collect()
    val keptLsh = graft.SparkEntry.queries("q_curate_verdict_lsh")(spark, sf())
      .filter(col("keep")).count()
    assert(lsh.map(_.getAs[Long]("n_docs")).sum === keptLsh)
    assert(lsh.map(_.getAs[Long]("n_docs")).sum <= e2e.map(_.getAs[Long]("n_docs")).sum)
    lsh.foreach { r =>
      val (nt, np) = (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_packs"))
      assert(np >= 1L && np <= nt / 256 + 1, s"lsh pack bound broke: $r")
    }
  }

  test("sequence packing matches an independent Scala re-derivation") {
    // the re-derivation targets the PACKING logic (window + floor), so it
    // consumes the same tokenizer counts the query does (the tokenizer has
    // its own spec and oracle; through round 14 whitespace tokens happened
    // to coincide because the 89-merge vocab made every frequent corpus
    // word a single piece — the 8192-merge vocabulary doesn't)
    val budget = 256
    val toks = Tables.documents(spark, sf())
      .select(col("doc_id"), col("source"),
        graft.text.Bpe.totalCount(col("text")).as("n_tokens"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // reference packing: sequential scan per source in doc_id order
    val expected = toks.groupBy(_._2).toSeq.flatMap { case (src, rows) =>
      var before = 0L
      rows.sortBy(_._1).map { case (id, _, n) =>
        val pack = before / budget
        before += n
        ((src, pack), (id, n))
      }
    }.groupBy(_._1).map { case ((src, pack), xs) =>
      val ds = xs.map(_._2)
      (src, pack) -> (ds.size.toLong, ds.map(_._2).sum, ds.map(_._1).min, ds.map(_._1).max)
    }
    val got = graft.SparkEntry.queries("q_pack_sequences")(spark, sf())
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(got === expected)
    // conservation: every token lands in exactly one pack
    assert(got.values.map(_._2).sum === toks.map(_._3).sum)
    // pack ids start at 0 and ascend within each source; a GAP is legal
    // only when an oversized document (> budget tokens) spans the skipped
    // pack — under the 8192-merge vocabulary some documents exceed the
    // 256-token budget, so ids are no longer dense by accident
    val oversized = toks.filter(_._3 > budget).map(t => (t._2, t._1)).toSet
    got.keys.groupBy(_._1).foreach { case (src, ks) =>
      val ids = ks.map(_._2).toSeq.sorted
      assert(ids.head === 0L, s"first pack of $src is not 0")
      ids.sliding(2).foreach {
        case Seq(a, b) if b > a + 1 =>
          // the doc that spans the gap is the last doc of pack a
          val lastDoc = got((src, a))._4
          assert(oversized.contains((src, lastDoc)),
            s"gap $a -> $b in $src without an oversized spanning doc")
        case _ =>
      }
    }
  }
}
