package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}

/** Package-access bridge for [[graft.DedupScaleProbe]]: exposes the banded
  * joins' internal stages (candidate generation, the signature prefilter)
  * so the scale harness can count each stage's volume without widening
  * [[Dedup]]'s own API. Diagnostics only — not part of the query surface.
  */
object DedupProbe {

  def banded(sig: DataFrame, bands: Int, rowsPer: Int): DataFrame =
    Dedup.bandedHashes(sig, bands, rowsPer)

  def containmentCandidates(sets: DataFrame, sig: DataFrame): DataFrame =
    Dedup.containmentSketchCandidates(sets, sig)

  def prefiltered(cands: DataFrame, sb: DataFrame,
      jMin: (Column, Column) => Column, selBias: Double = 0.0): DataFrame =
    Dedup.prefilterCands(cands, sb, jMin, selBias)

  def sigBytes(sig: DataFrame): DataFrame = Dedup.withSigBytes(sig)
}
