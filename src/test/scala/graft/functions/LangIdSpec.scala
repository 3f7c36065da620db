package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Golden sentences per supported language. The Spark↔DuckDB lockstep of
  * the same heuristic is covered by the q_text_langid oracle row; this spec
  * pins the language table itself so a table edit that breaks a language
  * fails by name.
  */
class LangIdSpec extends SparkSpec {

  private val goldens: Seq[(String, String)] = Seq(
    "en" -> "the cat and the dog sat in this house for hours",
    "es" -> "el perro y la casa que es de un pueblo",
    "de" -> "der hund und die katze sind nicht mit dem haus",
    "fr" -> "le chien est dans une maison pour les amis ici",
    "it" -> "il cane che non dorme sono anche come alla festa",
    "pt" -> "ele não quer uma casa mais bonita você também",
    "nl" -> "het huis een hond van niet ook maar voor zijn",
    "pl" -> "nie wiem czy to jest tak ale jak przez tego",
    "sv" -> "och att det som för inte med på är av",
    "tr" -> "bir ev ve bu kedi için ile çok daha gibi",
    "zh" -> "这是一个测试句子",
    "ja" -> "これはテストの文です", // kana present → ja, even with kanji 文
    "ko" -> "이것은 테스트 문장입니다",
    "ru" -> "это тестовое предложение на русском",
    "el" -> "αυτή είναι μια δοκιμαστική πρόταση",
    "he" -> "זהו משפט בדיקה בעברית",
    "ar" -> "هذه جملة اختبار بالعربية",
    "hi" -> "यह एक परीक्षण वाक्य है",
    "th" -> "นี่คือประโยคทดสอบ",
    "da" -> "og at det som ikke med på er af til",
    "no" -> "og det som ikke med på er av en til",
    "fi" -> "ja on ei että joka mutta myös kun niin ovat",
    "cs" -> "je se na že ale jako pro tak byl jsou",
    "ro" -> "și de la cu este pentru din care mai sunt",
    "hu" -> "és az hogy nem egy van is meg de majd",
    "id" -> "yang dan di itu dengan untuk tidak ini dari akan",
    "vi" -> "và của là có không được người trong một cho",
    "ca" -> "els amb per més com dels aquest està són també",
    "hr" -> "je se na da su ali kao za od to",
    "bn" -> "এটি একটি পরীক্ষা বাক্য",
    "pa" -> "ਇਹ ਇੱਕ ਟੈਸਟ ਵਾਕ ਹੈ",
    "gu" -> "આ એક પરીક્ષણ વાક્ય છે",
    "ta" -> "இது ஒரு சோதனை வாக்கியம்",
    "te" -> "ఇది ఒక పరీక్ష వాక్యం",
    "kn" -> "ಇದು ಒಂದು ಪರೀಕ್ಷಾ ವಾಕ್ಯ",
    "ml" -> "ഇത് ഒരു പരീക്ഷണ വാക്യമാണ്",
    "si" -> "මෙය පරීක්ෂණ වාක්‍යයකි",
    "lo" -> "ນີ້ແມ່ນປະໂຫຍກທົດສອບ",
    "my" -> "ဤသည် စမ်းသပ် စာကြောင်း ဖြစ်သည်",
    "ka" -> "ეს არის სატესტო წინადადება",
    "hy" -> "սա փորձնական նախադասություն է",
    "am" -> "ይህ የሙከራ ዓረፍተ ነገር ነው",
    "km" -> "នេះជាប្រយោគសាកល្បង",
    "sk" -> "sa ako pre bol sú aj som ktorý už ale",
    "sl" -> "ki tudi kot pa bil še lahko bo ni da",
    "lt" -> "ir yra kad tai bet kaip iš buvo apie jos",
    "lv" -> "ir un ka bet arī vai tika viņš šis tas",
    "et" -> "ja on ei et see oli ka kui mis aga",
    "ms" -> "yang dan di untuk dengan tidak pada ialah kerana boleh",
    "tl" -> "ang ng sa na ay mga hindi para ito siya",
    "sw" -> "na ya wa ni kwa katika hii kama za cha",
    "af" -> "hierdie boek is baie goed en ek sal vir jou gesê dat hulle wees",
    "cy" -> "mae hi wedi bod yn dda iawn gyda hyn hefyd ond dweud eich",
    "so" -> "buuggani waa mid fiican oo ayaa waxaa lagu daray iyo sidoo kale",
    "sq" -> "ky libër është shumë i mirë dhe kjo që janë për tij nga një",
    // shared-script languages: same script class as ru/ar/hi, separated by
    // the within-script distinctive-word argmax
    "uk" -> "це дуже добра книга і він вже має нові розділи але вона",
    "bg" -> "това е много добра книга и ще има нови глави защото съм доволен",
    "mk" -> "тоа е многу добра книга и ќе има нови поглавја затоа сум задоволен",
    "fa" -> "این کتاب بسیار خوب است که برای شما با یک فصل جدید شده",
    "ur" -> "یہ کتاب بہت اچھی ہے اور اس کے نئے باب میں ایک سے پڑھیں",
    "mr" -> "हे पुस्तक खूप चांगले आहे आणि त्यांच्या नवीन प्रकरणांसाठी केली असून होते",
    "ne" -> "यो किताब धेरै राम्रो छ र यसको नयाँ अध्याय पनि भएको लागि भने",
  )

  test("golden sentence per language resolves to that language") {
    import spark.implicits._
    val df = goldens.toDF("expected", "text")
      .withColumn("got", LangId.langId(col("text")))
    val wrong = df.filter(col("got") =!= col("expected")).collect()
    assert(wrong.isEmpty,
      wrong.map(r => s"${r.getString(0)} -> ${r.getString(2)}").mkString(", "))
  }

  test("kana beats han (Japanese with kanji is ja, pure han is zh)") {
    import spark.implicits._
    val df = Seq("漢字とひらがな", "漢字").toDF("text")
      .select(LangId.langId(col("text")).as("got"))
    assert(df.collect().map(_.getString(0)).toSeq === Seq("ja", "zh"))
  }

  test("empty, null, and feature-less text are undetected") {
    import spark.implicits._
    val df = Seq(Some(""), None, Some("zzz qqq xxx"), Some("12345 67890"))
      .toDF("text")
      .select(LangId.langId(col("text")).as("got"))
    assert(df.collect().map(_.getString(0)).forall(_ == "undetected"))
  }

  /** (reference verdict, kernel verdict) per text, in input order. */
  private def bothForms(texts: Seq[Option[String]]): Seq[(String, String)] = {
    import spark.implicits._
    texts.toDF("text")
      .select(LangIdReference.langId(col("text")), LangId.langId(col("text")))
      .collect().map(r => r.getString(0) -> r.getString(1)).toSeq
  }

  private def mismatches(texts: Seq[Option[String]], verdicts: Seq[(String, String)]): Seq[String] =
    texts.zip(verdicts).collect { case (t, (ref, got)) if ref != got =>
      s"$t: reference $ref, kernel $got" }

  test("native kernel equals the expression-form reference on goldens and edges") {
    val edges = Seq(None, Some(""), Some(" "), Some("zzz qqq"), Some("in en"), Some("IN EN"),
      Some("漢字とひらがな"), Some("漢字"), Some("カタカナ 漢字"), Some("한국어 漢字"),
      Some("книга глава слово"), Some("كتاب فصل كلمة"), Some("पुस्तक अध्याय शब्द"),
      Some("це це это"), Some("это це"), Some("است في"), Some("है आहे"),
      Some("og det som"), Some("ja on ei"), Some("the\u000Band"), Some("the\tand\nof"),
      Some("the cat это"), Some("12345 67890"))
    val texts = goldens.map(g => Some(g._2)) ++ edges
    val bad = mismatches(texts, bothForms(texts))
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("native kernel equals the expression-form reference on a seeded script-mixing sweep") {
    val rng = new scala.util.Random(20261020L)
    val latin = LangId.langs.flatMap(LangId.stopwords)
    val grouped = LangId.scriptGroups.values.flatten.flatMap(_._2).toSeq
    val scriptChars = LangId.scriptClasses.map { case (_, cls) =>
      val lo = cls.codePointAt(1)
      val hi = cls.codePointAt(cls.offsetByCodePoints(1, 2))
      () => new String(Character.toChars(lo + rng.nextInt(hi - lo + 1)))
    }
    val fillers = Seq("cat", "zzz", "42", "the,", "ÉTÉ", "Der", "ЭТО", "x")
    val seps = Seq(" ", " ", " ", "  ", "\t", "\n", "\r", "\f", "\u000B")
    def token(): String = rng.nextInt(10) match {
      case 0 | 1 | 2 => latin(rng.nextInt(latin.size))
      case 3 | 4 => grouped(rng.nextInt(grouped.size))
      case 5 => scriptChars(rng.nextInt(scriptChars.size))()
      case 6 => latin(rng.nextInt(latin.size)).toUpperCase
      case _ => fillers(rng.nextInt(fillers.size))
    }
    /** k and k or k±1 distinct stopwords of two languages of one segment. */
    def nearTie(): String = {
      val pool: Seq[Seq[String]] =
        if (rng.nextBoolean()) LangId.langs.map(LangId.stopwords)
        else LangId.scriptGroups.values.toSeq(rng.nextInt(3)).map(_._2)
      val Seq(a, b) = rng.shuffle(pool.indices.toList).take(2).map(pool)
      val k = 1 + rng.nextInt(3)
      val ws = rng.shuffle(a.take(k) ++ b.take(k + rng.nextInt(3) - 1))
      ws.mkString(seps(rng.nextInt(seps.size)))
    }
    val texts = Seq.fill(4000) {
      if (rng.nextInt(4) == 0) Some(nearTie())
      else Some(Seq.fill(rng.nextInt(9))(token()).mkString(seps(rng.nextInt(seps.size))))
    } :+ None
    val verdicts = bothForms(texts)
    val bad = mismatches(texts, verdicts)
    assert(bad.isEmpty, bad.take(20).mkString("; "))
    // the sweep reaches every shared-script member and the Latin argmax
    val seen = verdicts.map(_._1).toSet
    assert(Set("uk", "bg", "mk", "fa", "ur", "mr", "ne", "ja", "zh", "undetected").subsetOf(seen))
    assert(seen.intersect(LangId.langs.toSet).size >= 25, seen)
  }

  test("shared-script text without distinctive words falls back to the majority language") {
    import spark.implicits._
    val df = Seq(
      "книга глава слово",  // Cyrillic, no member-distinctive words
      "كتاب فصل كلمة",      // Arabic script, none
      "पुस्तक अध्याय शब्द", // Devanagari, none
    ).toDF("text").select(LangId.langId(col("text")).as("got"))
    assert(df.collect().map(_.getString(0)).toSeq === Seq("ru", "ar", "hi"))
  }

  test("tie-break follows the declared priority order") {
    import spark.implicits._
    // "en" is a Spanish stopword; "in" English — craft a 1-1 tie: priority
    // order says en wins
    val df = Seq("in en").toDF("text").select(LangId.langId(col("text")).as("got"))
    assert(df.collect().head.getString(0) === "en")
  }
}
