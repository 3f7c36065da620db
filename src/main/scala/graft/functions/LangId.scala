package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic language identification (replaces the reference's
  * `langdetect.detect`, transform_raw_data.py:132-134 — which is both
  * nondeterministic unless seeded and throws on feature-less text; see
  * SURVEY.md §2.7 F6 for the documented deviation). The reference's
  * langdetect covered ~55 languages; this heuristic covers 62 —
  * twenty-three script classes (seven of which disambiguate further, see
  * below) and thirty-two Latin-script languages by stopword argmax — while
  * staying expression-only and exactly mirrorable in the DuckDB oracle.
  *
  * Decision order (first match wins, both engines):
  *   1. null/empty → undetected
  *   2. script classes, most-specific first: kana → ja BEFORE han → zh
  *      (Japanese text mixes kanji with kana; han alone reads as Chinese),
  *      hangul → ko, then the single-script alphabets — all as
  *      literal-codepoint-range regexes, which parse identically in Java
  *      regex (Spark) and RE2 (DuckDB). Scripts SHARED by several
  *      languages (Cyrillic: ru/uk/bg/mk, Arabic script: ar/fa/ur,
  *      Devanagari: hi/mr/ne) run a second argmax over script-internal
  *      DISTINCTIVE function words; zero hits falls back to the script's
  *      majority language, which is what round-6's flat mapping always
  *      answered.
  *   3. argmax of distinct stopword hits per Latin-script language, ties
  *      broken by [[langs]] order; zero hits → undetected.
  *
  * DATA-DRIVEN PLAN SHAPE (round 8): the round-7 form compiled an
  * O(languages) CASE tree — one array_intersect + one case arm per
  * language, ~500 expression nodes at 62 languages — and every ETL /
  * curation query that embeds language id paid its plan-analysis and
  * codegen cost again (the round-7 bench regression: the ETL trio
  * 7.8 → 20.9 s). This form is constant-size in the language count:
  * the whole stopword table is ONE array-of-struct literal ([[vocab]],
  * a single Literal node however many languages it carries), scored by
  * one generic scorer — tokens → matching (word, lang) pairs → per-lang
  * hit counts → argmax decoded from a packed `count*64 + (63-index)`
  * integer, ties falling to the smaller index exactly like the old
  * first-match case chain. Adding a language now grows DATA, not the
  * plan. Sub-expressions that lambda bodies would otherwise re-evaluate
  * per element (Catalyst does not CSE through lambda bodies) are bound
  * once via the single-element-array lambda-let idiom:
  * `element_at(transform(array(x), v => body(v)), 1)` evaluates `x`
  * exactly once per row on both engines.
  */
object LangId {

  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "is", "of", "to", "in", "this", "that", "for", "with"),
    "es" -> Seq("el", "la", "los", "las", "y", "en", "que", "es", "un", "una", "por", "perro"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "den", "nicht", "ein", "eine", "sind"),
    "fr" -> Seq("le", "les", "et", "est", "dans", "une", "pour", "avec", "sont", "ici"),
    "it" -> Seq("il", "che", "non", "per", "sono", "della", "questo", "anche", "come", "alla"),
    "pt" -> Seq("não", "uma", "mais", "foi", "pela", "são", "também", "isso", "ele", "você"),
    "nl" -> Seq("het", "een", "van", "niet", "ook", "maar", "voor", "zijn", "wordt", "heeft"),
    "pl" -> Seq("nie", "się", "jest", "czy", "tak", "ale", "jak", "przez", "być", "tego"),
    "sv" -> Seq("och", "att", "det", "som", "för", "inte", "med", "på", "är", "av"),
    "tr" -> Seq("bir", "ve", "bu", "için", "ile", "olarak", "çok", "daha", "gibi", "ama"),
    "da" -> Seq("og", "at", "det", "som", "ikke", "med", "på", "er", "af", "til"),
    "no" -> Seq("og", "det", "som", "ikke", "med", "på", "er", "av", "en", "til"),
    "fi" -> Seq("ja", "on", "ei", "että", "joka", "mutta", "myös", "kun", "niin", "ovat"),
    "cs" -> Seq("je", "se", "na", "že", "ale", "jako", "pro", "tak", "byl", "jsou"),
    "ro" -> Seq("și", "de", "la", "cu", "este", "pentru", "din", "care", "mai", "sunt"),
    "hu" -> Seq("és", "az", "hogy", "nem", "egy", "van", "is", "meg", "de", "majd"),
    "id" -> Seq("yang", "dan", "di", "itu", "dengan", "untuk", "tidak", "ini", "dari", "akan"),
    "vi" -> Seq("và", "của", "là", "có", "không", "được", "người", "trong", "một", "cho"),
    "ca" -> Seq("els", "amb", "per", "més", "com", "dels", "aquest", "està", "són", "també"),
    "hr" -> Seq("je", "se", "na", "da", "su", "ali", "kao", "za", "od", "to"),
    // tail languages: same mechanism; sets chosen to carry each language's
    // DISTINCTIVE function words (sk "sa/ako/pre" vs cs "se/jako/pro",
    // ms "kerana/ialah/boleh" vs id "karena/adalah", et "see/aga" vs fi)
    // because shared-script neighbors already occupy the common ones
    "sk" -> Seq("sa", "ako", "pre", "bol", "sú", "aj", "som", "ktorý", "už", "ale"),
    "sl" -> Seq("ki", "tudi", "kot", "pa", "bil", "še", "lahko", "bo", "ni", "da"),
    "lt" -> Seq("ir", "yra", "kad", "tai", "bet", "kaip", "iš", "buvo", "apie", "jos"),
    "lv" -> Seq("ir", "un", "ka", "bet", "arī", "vai", "tika", "viņš", "šis", "tas"),
    "et" -> Seq("ja", "on", "ei", "et", "see", "oli", "ka", "kui", "mis", "aga"),
    "ms" -> Seq("yang", "dan", "di", "untuk", "dengan", "tidak", "pada", "ialah", "kerana", "boleh"),
    "tl" -> Seq("ang", "ng", "sa", "na", "ay", "mga", "hindi", "para", "ito", "siya"),
    "sw" -> Seq("na", "ya", "wa", "ni", "kwa", "katika", "hii", "kama", "za", "cha"),
    "af" -> Seq("baie", "vir", "hierdie", "gesê", "hulle", "daardie", "jou", "sal", "wees", "ons"),
    "cy" -> Seq("mae", "wedi", "hefyd", "gyda", "iawn", "bod", "dweud", "hwn", "ond", "eich"),
    "so" -> Seq("waa", "ayaa", "waxaa", "iyo", "lagu", "soo", "sidoo", "kale", "dhan", "uga"),
    "sq" -> Seq("është", "që", "një", "për", "shumë", "nga", "dhe", "kjo", "janë", "tij"),
  )

  /** Latin-script languages in tie-break priority order (new languages
    * append after the existing ones so existing tie behavior is stable).
    */
  val langs: Seq[String] = Seq("en", "es", "de", "fr", "it", "pt", "nl", "pl", "sv", "tr",
    "da", "no", "fi", "cs", "ro", "hu", "id", "vi", "ca", "hr",
    "sk", "sl", "lt", "lv", "et", "ms", "tl", "sw", "af", "cy", "so", "sq")

  /** Script-internal disambiguation for scripts several supported languages
    * share, keyed by the script class's majority language. Member order is
    * the tie-break (majority language first); the word sets are DISTINCTIVE
    * — orthography that exists in exactly one member (ru "это" vs uk "це"
    * vs bg "това" vs mk "тоа"; fa "است" vs ur "ہے"; hi "है" vs mr "आहे" vs
    * ne "छ") — so a tie means genuinely ambiguous text, which falls to the
    * majority member.
    */
  val scriptGroups: Map[String, Seq[(String, Seq[String])]] = Map(
    "ru" -> Seq(
      "ru" -> Seq("это", "что", "как", "его", "она", "чтобы", "очень", "уже", "есть", "был"),
      "uk" -> Seq("це", "дуже", "і", "він", "вже", "але", "вона", "та", "його", "що"),
      "bg" -> Seq("това", "е", "ще", "има", "защото", "съм", "които", "него"),
      "mk" -> Seq("тоа", "ќе", "затоа", "сум", "кои", "нешто", "само", "многу", "како", "од")),
    "ar" -> Seq(
      "ar" -> Seq("في", "من", "على", "هذا", "التي", "أن", "إلى", "كان", "مع", "هو"),
      "fa" -> Seq("است", "که", "این", "را", "با", "های", "برای", "آن", "یک", "شده"),
      "ur" -> Seq("ہے", "کے", "کی", "میں", "اور", "ایک", "سے", "کو", "نے", "پر")),
    "hi" -> Seq(
      "hi" -> Seq("है", "के", "की", "में", "और", "एक", "से", "को", "ने", "पर"),
      "mr" -> Seq("आहे", "आणि", "यांनी", "केली", "असून", "होते", "झाली", "मात्र", "तसेच", "खूप"),
      "ne" -> Seq("छ", "र", "पनि", "भएको", "गरेको", "लागि", "भने", "गर्न", "हुने", "छन्")),
  )

  /** (language, literal-codepoint-range character class) in decision order.
    * The ranges are written as Scala unicode escapes so both engines
    * receive literal characters — no engine-specific \\p{script} syntax.
    */
  val scriptClasses: Seq[(String, String)] = Seq(
    "ja" -> "[ぁ-ゟ゠-ヿ]", // hiragana + katakana
    "ko" -> "[가-힣]",              // hangul syllables
    "zh" -> "[一-鿿]",              // unified han
    "ru" -> "[Ѐ-ӿ]",              // cyrillic
    "el" -> "[Ͱ-Ͽ]",              // greek
    "he" -> "[֐-׿]",              // hebrew
    "ar" -> "[؀-ۿ]",              // arabic
    "hi" -> "[ऀ-ॿ]",              // devanagari
    "th" -> "[฀-๿]",              // thai
    "bn" -> "[ঀ-৿]",      // bengali
    "pa" -> "[਀-੿]",      // gurmukhi
    "gu" -> "[઀-૿]",      // gujarati
    "ta" -> "[஀-௿]",      // tamil
    "te" -> "[ఀ-౿]",      // telugu
    "kn" -> "[ಀ-೿]",      // kannada
    "ml" -> "[ഀ-ൿ]",      // malayalam
    "si" -> "[඀-෿]",      // sinhala
    "lo" -> "[຀-໿]",      // lao
    "my" -> "[က-႟]",      // myanmar
    "ka" -> "[Ⴀ-ჿ]",      // georgian
    "hy" -> "[԰-֏]",      // armenian
    "am" -> "[ሀ-፿]",      // ethiopic
    "km" -> "[ក-៿]",      // khmer
  )

  /** Union of every script class — a single guard scan. The common case
    * (Latin-script text) pays ONE regex pass instead of nine: each branch
    * of the script when-chain is a separate full-text scan that finds
    * nothing on Latin input.
    */
  val anyScriptClass: String =
    "[" + scriptClasses.map(_._2.stripPrefix("[").stripSuffix("]")).mkString + "]"

  /** Script-group keys in index-assignment order (deterministic — a Map
    * iteration order must never decide tie-breaks).
    */
  private val groupOrder: Seq[String] = Seq("ru", "ar", "hi")

  /** Every scored language in tie-break index order: the 32 Latin-script
    * languages first (their mutual ties behave exactly like the round-7
    * case chain), then each shared-script group's members majority-first.
    * Scripts are disjoint, so a token can only ever hit one segment of the
    * index space — cross-segment ties cannot arise.
    */
  val allLangs: Seq[String] =
    langs ++ groupOrder.flatMap(g => scriptGroups(g).map(_._1))

  /** The whole scoring table as data: (stopword, language index). One
    * array-of-struct Literal node in the plan regardless of language count.
    */
  private[functions] val vocab: Seq[(String, Int)] = {
    val byLang: Seq[(String, Seq[String])] =
      langs.map(l => l -> stopwords(l)) ++ groupOrder.flatMap(g => scriptGroups(g))
    byLang.zipWithIndex.flatMap { case ((_, ws), i) => ws.map(w => (w, i)) }
  }

  /** Index span of each shared-script group inside [[allLangs]] (contiguous,
    * majority first) — the group argmax is the generic argmax restricted to
    * this span.
    */
  private val groupSpan: Map[String, (Int, Int)] = {
    var next = langs.size
    groupOrder.map { g =>
      val lo = next
      next += scriptGroups(g).size
      g -> (lo, next - 1)
    }.toMap
  }

  private val latinSpan: (Int, Int) = (0, langs.size - 1)

  /** Lambda-let: bind `x` once and evaluate `body` against the bound value.
    * Catalyst does not CSE through lambda bodies or CaseWhen branches, so
    * any multiply-referenced non-trivial value must be bound this way (or
    * materialized as a projection column) to be computed once per row.
    */
  private def bind(x: Column)(body: Column => Column): Column =
    element_at(transform(array(x), body), 1)

  /** Language indices hit by the text, with one entry per matched
    * (stopword, language) pair — a language's count is its number of
    * DISTINCT matched stopwords, exactly the round-7
    * `size(array_intersect(tokens, stopwords))` semantics.
    *
    * Round 9: the expression form (`filter(vocabLiteral, p =>
    * array_contains(toks, w))`) scanned every vocabulary entry against
    * every token — ~|vocab|·|tokens| string compares per row, the
    * q_text_langid hot loop. [[LangIdHits]] is the token-major native
    * kernel: each DISTINCT token is one hash lookup in a static
    * stopword→languages table, O(tokens) per row, same (word, language)
    * hit multiset (the downstream argmax is order-insensitive), null-vs-
    * empty difference unobservable behind [[decide]]'s null/empty guard.
    */
  private def hitsExpr(text: Column): Column =
    call_function(LangIdFunctions.hitsName, text)

  /** Argmax over the hit counts restricted to index span [lo, hi]; null
    * when the span has no hits. Count and tie-break ride one packed
    * integer: `count*64 + (63 - index)` — the max has the highest count,
    * and among equal counts the smallest index (= highest declared
    * priority), matching the round-7 first-match case chain. Safe because
    * counts are ≤ 12 (stopwords per language) and indices < 64.
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
    * argmax. Scripts are disjoint from Latin tokens, so restricting each
    * argmax to its span reproduces the round-7 per-group decisions bit for
    * bit.
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
    bind(hitsExpr(text))(hits => decide(text, hits))

  /** DataFrame form of [[langId]] — kept for call sites that want the text
    * expression applied with an output column name; since the round-8
    * lambda-let binding already evaluates the scorer once per row, this is
    * now just a withColumn.
    */
  def withLangId(df: org.apache.spark.sql.DataFrame, text: Column, out: String)
      : org.apache.spark.sql.DataFrame = {
    df.withColumn(out, langId(text))
  }

  /** The same heuristic as DuckDB SQL, parameterized on the text
    * expression — used by graft.text oracle queries so the two sides stay
    * in lockstep. Same data-driven shape: the vocabulary is one
    * list-of-struct literal, bound once per row with the same
    * single-element-list lambda-let, and each argmax packs
    * `count*64 + (63 - index)` so the engines share the tie-break.
    */
  def duckDbSql(textExpr: String): String = {
    val vocabSql = vocab
      .map { case (w, i) => s"{'w': '$w', 'l': $i}" }
      .mkString("[", ", ", "]")
    val langsSql = allLangs.map(l => s"'$l'").mkString("[", ", ", "]")
    val toks = s"list_distinct(string_split_regex(lower($textExpr), '\\s+'))"
    val hits = s"(list_transform([$toks], td -> " +
      s"list_transform(list_filter($vocabSql, p -> list_contains(td, struct_extract(p, 'w'))), " +
      s"p -> struct_extract(p, 'l'))))[1]"
    def argmax(span: (Int, Int)): String =
      s"(list_transform([list_filter(hs, h -> h >= ${span._1} AND h <= ${span._2})], g -> " +
        s"($langsSql)[64 - (list_max(list_transform(list_distinct(g), " +
        s"i -> len(list_filter(g, h2 -> h2 = i))*64 + (63 - i))) % 64)]))[1]"
    val scriptCases = scriptClasses
      .map { case (l, cls) =>
        val verdict = groupSpan.get(l)
          .map(span => s"coalesce(${argmax(span)}, '$l')")
          .getOrElse(s"'$l'")
        s"WHEN regexp_matches($textExpr, '$cls') THEN $verdict"
      }
      .mkString(" ")
    s"""(list_transform([$hits], hs -> CASE
        WHEN $textExpr IS NULL OR length($textExpr) = 0 THEN 'undetected'
        $scriptCases
        ELSE coalesce(${argmax(latinSpan)}, 'undetected') END))[1]"""
  }
}

/** Token-major stopword scorer (see [[LangId.hitsExpr]]): language indices
  * hit by the text, one entry per matched (stopword, language) pair.
  * Tokenization is bit-compatible with `array_distinct(split(lower(text),
  * TextAnalysis.wsRe))` and the oracle's RE2 `\s+` — the explicit
  * [ \t\n\f\r] class (see [[graft.text.TextAnalysis.wsRe]]: Java's `\s`
  * would also swallow vertical tab, RE2's does not), and
  * UTF8String.toLowerCase IS Spark's `lower`. Same native-kernel pattern
  * as [[Winnow]] / [[VecDot]].
  */
case class LangIdHits(child: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.types._

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"${LangIdFunctions.hitsName} expects a string input, got $other")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(t: Any): Any =
    LangIdHits.compute(t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.LangIdHits.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): LangIdHits =
    copy(child = newChild)

  override def prettyName: String = LangIdFunctions.hitsName
}

object LangIdHits {
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
  import org.apache.spark.unsafe.types.UTF8String

  /** stopword → the language indices it scores for (a word may belong to
    * several languages; each membership is one hit entry, as in the
    * expression form).
    */
  private val table: java.util.HashMap[String, Array[Int]] = {
    val m = new java.util.HashMap[String, Array[Int]]()
    LangId.vocab.groupBy(_._1).foreach { case (w, ps) =>
      m.put(w, ps.map(_._2).toArray)
    }
    m
  }

  def compute(text: UTF8String): ArrayData = {
    // RE2's \s set, matching the oracle's string_split_regex (Java's \s
    // additionally contains \x0B — see graft.text.TextAnalysis.wsRe)
    val toks = text.toLowerCase.toString.split("[ \\t\\n\\f\\r]+", -1)
    val seen = new java.util.HashSet[String](toks.length * 2)
    val out = new java.util.ArrayList[Any](8)
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (seen.add(t)) {
        val langs = table.get(t)
        if (langs != null) {
          var j = 0
          while (j < langs.length) { out.add(langs(j)); j += 1 }
        }
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** SQL names and Column handles; [[Natives]] registers the kernels. */
object LangIdFunctions {

  val hitsName = "graft_langid_hits"

  def ensureRegistered(spark: org.apache.spark.sql.SparkSession): Unit = Natives.install(spark)
}
