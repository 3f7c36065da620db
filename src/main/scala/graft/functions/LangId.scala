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
  * staying exactly mirrorable in the DuckDB oracle.
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
  * ONE NATIVE KERNEL: [[langId]] is a single expression node,
  * `graft_langid(text)` ([[LangIdDetect]]), whatever the language count.
  * As a Catalyst expression tree the classifier was a few hundred nodes
  * with lambda argmaxes, paid for in analysis, plan rendering and
  * interpreted evaluation by every plan that embeds language id. The
  * kernel runs the same decisions: the script-class regexes through
  * java.util.regex (what Spark's `regexp_like` runs), the token table of
  * [[LangIdHits]] and the packed `count*64 + (63-index)` argmax, ties
  * falling to the smaller index. The expression form stays in the test
  * sources as the reference the kernel must agree with. [[duckDbSql]] is
  * the oracle's data-driven form: the stopword table is one
  * list-of-struct literal, so adding a language grows data, not the query.
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

  /** The whole scoring table as data: (stopword, language index). The
    * kernel's token table and the oracle's one list literal.
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
  private[functions] val groupSpan: Map[String, (Int, Int)] = {
    var next = langs.size
    groupOrder.map { g =>
      val lo = next
      next += scriptGroups(g).size
      g -> (lo, next - 1)
    }.toMap
  }

  /** Index span of the Latin-script languages inside [[allLangs]]. */
  private[functions] val latinSpan: (Int, Int) = (0, langs.size - 1)

  /** The language of `text` (null or empty reads "undetected"): one
    * native node, see [[LangIdDetect]].
    */
  def langId(text: Column): Column = call_function(LangIdFunctions.langIdName, text)

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

/** Token-major stopword scorer: language indices hit by the text, one
  * entry per matched (stopword, language) pair — a language's count is its
  * number of DISTINCT matched stopwords. Each distinct token is one hash
  * lookup in a static stopword→languages table, O(tokens) per row.
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
    * several languages; each membership is one hit entry).
    */
  private val table: java.util.HashMap[String, Array[Int]] = {
    val m = new java.util.HashMap[String, Array[Int]]()
    LangId.vocab.groupBy(_._1).foreach { case (w, ps) =>
      m.put(w, ps.map(_._2).toArray)
    }
    m
  }

  /** RE2's \s set, matching the oracle's string_split_regex (Java's \s
    * additionally contains \x0B — see graft.text.TextAnalysis.wsRe);
    * compiled once, where `String.split` would compile it per row.
    */
  private val whitespace = java.util.regex.Pattern.compile("[ \\t\\n\\f\\r]+")

  def compute(text: UTF8String): ArrayData = new GenericArrayData(hits(text))

  /** The hit entries of a non-null text, in token order. */
  private[functions] def hits(text: UTF8String): Array[Int] = {
    val toks = whitespace.split(text.toLowerCase.toString, -1)
    val seen = new java.util.HashSet[String](toks.length * 2)
    val out = Array.newBuilder[Int]
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (seen.add(t)) {
        val langs = table.get(t)
        if (langs != null) out ++= langs
      }
      i += 1
    }
    out.result()
  }
}

/** `graft_langid(text)`: the whole classifier as one native node (see
  * [[LangId]] for the decision order). Never null: null and empty text
  * read "undetected".
  */
case class LangIdDetect(child: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
  import org.apache.spark.sql.catalyst.expressions.codegen.Block._
  import org.apache.spark.sql.types._
  import org.apache.spark.unsafe.types.UTF8String

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"${LangIdFunctions.langIdName} expects a string input, got $other")
  }

  override def dataType: DataType = StringType

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    LangIdDetect.detect(child.eval(input).asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      UTF8String ${ev.value} =
        graft.functions.LangIdDetect.detect(${c.isNull} ? null : ${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): LangIdDetect =
    copy(child = newChild)

  override def prettyName: String = LangIdFunctions.langIdName
}

object LangIdDetect {
  import java.util.regex.Pattern

  import org.apache.spark.unsafe.types.UTF8String

  private val undetected = UTF8String.fromString("undetected")
  private val codes: Array[UTF8String] = LangId.allLangs.map(UTF8String.fromString).toArray
  private val anyScript = Pattern.compile(LangId.anyScriptClass)
  private val scripts: Array[Pattern] =
    LangId.scriptClasses.map(sc => Pattern.compile(sc._2)).toArray
  private val scriptCodes: Array[UTF8String] =
    LangId.scriptClasses.map(sc => UTF8String.fromString(sc._1)).toArray
  /** The argmax span of each script class; null for single-language scripts. */
  private val scriptSpans: Array[(Int, Int)] =
    LangId.scriptClasses.map(sc => LangId.groupSpan.getOrElse(sc._1, null)).toArray

  def detect(text: UTF8String): UTF8String = {
    if (text == null || text.numBytes == 0) return undetected
    val hits = LangIdHits.hits(text)
    val s = text.toString
    if (anyScript.matcher(s).find()) {
      var k = 0
      while (k < scripts.length) {
        if (scripts(k).matcher(s).find()) {
          val span = scriptSpans(k)
          return if (span == null) scriptCodes(k) else argmax(hits, span, scriptCodes(k))
        }
        k += 1
      }
    }
    argmax(hits, LangId.latinSpan, undetected)
  }

  /** The language in `span` with the most hits, ties to the smaller index:
    * the max of `count*64 + (63 - index)`; `none` when the span has no hits.
    */
  private def argmax(hits: Array[Int], span: (Int, Int), none: UTF8String): UTF8String = {
    val counts = new Array[Int](codes.length)
    var i = 0
    while (i < hits.length) { counts(hits(i)) += 1; i += 1 }
    var best = -1
    i = span._1
    while (i <= span._2) {
      if (counts(i) > 0) best = math.max(best, counts(i) * 64 + (63 - i))
      i += 1
    }
    if (best < 0) none else codes(63 - best % 64)
  }
}

/** SQL names and Column handles; [[Natives]] registers the kernels. */
object LangIdFunctions {

  val hitsName = "graft_langid_hits"

  val langIdName = "graft_langid"

  def ensureRegistered(spark: org.apache.spark.sql.SparkSession): Unit = Natives.install(spark)
}
