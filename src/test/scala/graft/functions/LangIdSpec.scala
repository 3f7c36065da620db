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

  test("withLangId (two-projection form) equals langId on goldens and edges") {
    import spark.implicits._
    val texts = goldens.map(_._2) ++ Seq("", "zzz qqq", "in en", "漢字とひらがな", "漢字")
    val df = texts.toDF("text")
    val a = df.select(LangId.langId(col("text")).as("p")).collect().map(_.getString(0))
    val b = LangId.withLangId(df, col("text"), "p")
      .select("p").collect().map(_.getString(0))
    assert(a.toSeq === b.toSeq)
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
