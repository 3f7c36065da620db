package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

import graft.multimodal.{BmpSynth, JpegAcSynth, JpegArithSynth, JpegColor420ProgressiveSynth, JpegColor420Synth, JpegColorProgressiveSynth, JpegColorSynth, JpegProgressiveRestartSynth, JpegProgressiveSynth, JpegRestartSynth, JpegSampledSynth, JpegSynth, MediaSynthFunctions => MS, PngDynamicSynth, PngFixedSynth, PngSynth, WavSynth}

/** The engine's native functions: ONE table with one row (identifier,
  * info, builder) per SQL name. The `*Functions` objects only name their
  * kernels and wrap them as Column handles; every registration reads this
  * table, so no session can see a partial set.
  *
  * A session gets the table in exactly one of four ways:
  *  - [[graft.util.EngineDefaults.local]], the factory behind every engine
  *    main and the test session, installs it once after `getOrCreate`;
  *  - `SparkEntry.entry` and every `SparkEntry.queries` closure install it,
  *    because their caller may pass a session the engine did not build;
  *  - [[graft.util.Tables.registerViews]], the SQL entry point, installs it;
  *  - `spark.sql.extensions=graft.GraftExtensions` injects it at session
  *    build (the config-file route).
  * Library code (query builders, operators) never registers: it assumes
  * one of the above ran on the session it receives. The `ensureRegistered`
  * methods left on eleven `*Functions` objects forward here; they stay
  * only because the perfbench harness compiles against them.
  *
  * Scalar config parameters (shingle width, stride, winnow k/w, plane and
  * probe counts) configure codegen, so the builders validate them as
  * foldable INT literals ([[Args]]): a column or mistyped literal fails
  * analysis with the function name, not a ClassCastException.
  */
object Natives {
  private type Row = SparkSessionExtensions#FunctionDescription

  private def row(name: String, cls: Class[_])(build: Seq[Expression] => Expression): Row =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  private val kernels: Seq[Row] = {
    import VectorFunctions._, TextFunctions._, ShingleHashFunctions._
    Seq(
      row(dotName, classOf[VecDot])(es => VecDot(es(0), es(1))),
      row(pqArgminName, classOf[PqArgmin])(es => PqArgmin(es(0), es(1))),
      row(signBucketsName, classOf[SignBuckets])(es =>
        SignBuckets(es(0), es(1), Args.intLiteral(signBucketsName, es, 2))),
      row(nearestCellsName, classOf[NearestCells])(es =>
        NearestCells(es(0), es(1), Args.intLiteral(nearestCellsName, es, 2))),
      row(nearestVecName, classOf[NearestVec])(es => NearestVec(es(0), es(1))),
      row(shinglesName, classOf[WordShingles])(es =>
        WordShingles(es.head, Args.intLiteral(shinglesName, es, 1))),
      row(repetitionName, classOf[RepetitionStats])(es => RepetitionStats(es.head)),
      row(normalizeName, classOf[NormalizeText])(es => NormalizeText(es.head)),
      row(shingleHashesName, classOf[WordShingleHashes])(es =>
        WordShingleHashes(es.head, Args.intLiteral(shingleHashesName, es, 1))),
      row(intersectName, classOf[SortedIntersectCount])(es =>
        SortedIntersectCount(es(0), es(1))),
      row(minHashSigName, classOf[MinHashSignature])(es =>
        MinHashSignature(es.head, Args.intLiteral(minHashSigName, es, 1))),
      row(byteLaneAgreeName, classOf[ByteLaneAgree])(es => ByteLaneAgree(es(0), es(1))),
      row(BinaryFunctions.strideName, classOf[ByteStride])(es =>
        ByteStride(es.head, Args.intLiteral(BinaryFunctions.strideName, es, 1))),
      row(WinnowFunctions.winnowName, classOf[Winnow])(es => Winnow(es.head,
        Args.intLiteral(WinnowFunctions.winnowName, es, 1),
        Args.intLiteral(WinnowFunctions.winnowName, es, 2))),
      row(LangIdFunctions.hitsName, classOf[LangIdHits])(es => LangIdHits(es.head)),
      row(BloomFunctions.aggName, classOf[BloomFilterAggregate])(es =>
        new BloomFilterAggregate(es(0), es(1), es(2))),
      row(BloomFunctions.containsName, classOf[BloomFilterMightContain])(es =>
        BloomFilterMightContain(es(0), es(1))),
      row(BpeFunctions.countsName, classOf[BpeCounts])(es => BpeCounts(es.head)),
      row(BpeFunctions.totalName, classOf[BpeTotal])(es => BpeTotal(es.head)),
      row(MediaDecodeFunctions.pngName, classOf[PngStats])(es => PngStats(es.head)),
      row(MediaDecodeFunctions.bmpName, classOf[BmpStats])(es => BmpStats(es.head)),
      row(MediaDecodeFunctions.wavName, classOf[WavStats])(es => WavStats(es.head)),
      row(MediaDecodeFunctions.embedName, classOf[MediaEmbedding])(es =>
        MediaEmbedding(es.head)),
      row(JpegFunctions.statsName, classOf[JpegStats])(es => JpegStats(es.head)),
      row(JpegFunctions.colorStatsName, classOf[JpegColorStats])(es =>
        JpegColorStats(es.head)),
    )
  }

  private val synthesizers: Seq[Row] = Seq(
    row(MS.pngName, classOf[PngSynth])(es => PngSynth(es.head)),
    row(MS.pngFixedName, classOf[PngFixedSynth])(es => PngFixedSynth(es.head)),
    row(MS.pngDynamicName, classOf[PngDynamicSynth])(es => PngDynamicSynth(es.head)),
    row(MS.jpegName, classOf[JpegSynth])(es => JpegSynth(es.head)),
    row(MS.jpegAcName, classOf[JpegAcSynth])(es => JpegAcSynth(es.head)),
    row(MS.jpegProgressiveName, classOf[JpegProgressiveSynth])(es =>
      JpegProgressiveSynth(es.head)),
    row(MS.jpegRestartName, classOf[JpegRestartSynth])(es => JpegRestartSynth(es.head)),
    row(MS.jpegProgressiveRestartName, classOf[JpegProgressiveRestartSynth])(es =>
      JpegProgressiveRestartSynth(es.head)),
    row(MS.jpegColorName, classOf[JpegColorSynth])(es => JpegColorSynth(es.head)),
    row(MS.jpegColor420Name, classOf[JpegColor420Synth])(es => JpegColor420Synth(es.head)),
    row(MS.jpegColorProgressiveName, classOf[JpegColorProgressiveSynth])(es =>
      JpegColorProgressiveSynth(es.head)),
    row(MS.jpegColor420ProgressiveName, classOf[JpegColor420ProgressiveSynth])(es =>
      JpegColor420ProgressiveSynth(es.head)),
    row(MS.bmpName, classOf[BmpSynth])(es => BmpSynth(es.head)),
    row(MS.wavName, classOf[WavSynth])(es => WavSynth(es.head)),
    row(MS.jpegColor420ProgressiveRestartName, classOf[JpegSampledSynth])(es =>
      JpegSampledSynth(es.head, 2, 2, 2, progressive = true)),
    row(MS.jpegArithName, classOf[JpegArithSynth])(es => JpegArithSynth(es.head)),
  ) ++ (for ((geom, hs, vs) <- MS.sampledVariants; prog <- Seq(false, true); ri <- Seq(0, 2))
    yield row(MS.jpegSampledName(geom, prog, ri), classOf[JpegSampledSynth])(es =>
      JpegSampledSynth(es.head, hs, vs, ri, prog)))

  val all: Seq[SparkSessionExtensions#FunctionDescription] = kernels ++ synthesizers

  /** Registers the names this session's registry lacks. A second call
    * (or a session built with [[graft.GraftExtensions]]) registers nothing
    * and so logs no "replaced a previously registered function" warning.
    */
  def install(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.synchronized {
      all.foreach { case (id, info, build) =>
        if (!reg.functionExists(id)) reg.registerFunction(id, info, build)
      }
    }
  }
}
