package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The expression form [[LangId.langId]] compiled to before it became one
  * native node: the token-table hits ([[LangIdHits]]) bound once, then a
  * script-class `regexp_like` CASE chain and lambda argmaxes over the
  * packed `count*64 + (63 - index)` integer. Kept as the reference the
  * kernel must agree with.
  */
object LangIdReference {
  import LangId._

  /** Lambda-let: bind `x` once and evaluate `body` against the bound value
    * (Catalyst does not CSE through lambda bodies or CaseWhen branches).
    */
  private def bind(x: Column)(body: Column => Column): Column =
    element_at(transform(array(x), body), 1)

  /** Argmax over the hit counts restricted to index span [lo, hi]; null
    * when the span has no hits.
    */
  private def argmaxExpr(hits: Column, span: (Int, Int)): Column =
    bind(filter(hits, h => h >= lit(span._1) && h <= lit(span._2))) { g =>
      val enc = transform(array_distinct(g),
        i => size(filter(g, h => h === i)) * lit(64) + (lit(63) - i))
      element_at(typedlit(allLangs), lit(64) - (array_max(enc) % lit(64)))
    }

  /** The decision chain over a bound hits value: script classes in
    * declared order (shared scripts → span-restricted argmax with the
    * majority language as zero-hit fallback), then the Latin stopword
    * argmax.
    */
  private def decide(text: Column, hits: Column): Column = {
    val byScore = coalesce(argmaxExpr(hits, latinSpan), lit("undetected"))
    val chain = scriptClasses.foldRight(byScore) { case ((l, cls), acc) =>
      val verdict = groupSpan.get(l)
        .map(span => coalesce(argmaxExpr(hits, span), lit(l)))
        .getOrElse(lit(l))
      when(regexp_like(text, lit(cls)), verdict).otherwise(acc)
    }
    val byScript = when(regexp_like(text, lit(anyScriptClass)), chain).otherwise(byScore)
    when(text.isNull || length(text) === 0, "undetected").otherwise(byScript)
  }

  def langId(text: Column): Column =
    bind(call_function(LangIdFunctions.hitsName, text))(hits => decide(text, hits))
}
