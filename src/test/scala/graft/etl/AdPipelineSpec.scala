package graft.etl

import org.apache.spark.sql.Row

import graft.SparkSpec

/** Golden end-to-end fixtures (SURVEY.md §5.2): every branch of the
  * reference semantics pinned against hand-computed expectations with a
  * frozen clock.
  */
class AdPipelineSpec extends SparkSpec {

  private lazy val out = AdPipeline.fixtureRun(spark)
  private lazy val curated =
    out.curated.collect().map(r => r.getString(0) -> r).toMap
  private lazy val report = out.report.collect()

  test("curated survivors: 3-pass keep-first dedup incl. null-key collapse") {
    // 1001dup dropped by pass 1 (ad_id); 1002 (g1 after 1001) and 1014
    // (null collation after 1003's null) by pass 2 — nulls collapse like
    // pandas NaN-equal keys; 1013 (same text as 1001) by pass 3.
    assert(curated.keySet === Set("1001", "1003", "1004", "1005", "1011", "1012", "1015", "1016"))
  }

  test("pass composition: a text-dup of a pass-2 victim survives pass 3") {
    // 1012 repeats 1002's text, but 1002 was already removed by the
    // ad_group_id pass — sequential passes keep 1012 (SURVEY §2.5).
    assert(curated.contains("1012"))
  }

  test("quarantine: first-failing-rule codes, one row per invalid ad") {
    val q = out.quarantine.collect()
      .map(r => Option(r.getStruct(0).getAs[String]("ad_id")) -> r.getString(1)).toMap
    assert(q === Map(
      Some("1006") -> "invalid_enum:display_format",
      None         -> "missing:ad_id",
      Some("1007") -> "missing:is_active",
      Some("1008") -> "missing:start_date_ts",
      Some("1009") -> "invalid_epoch:start_date_ts",
      Some("1010") -> "end_before_start",
    ))
  }

  test("running max: group-scoped, file-ordered, with the reference's contribution boundary") {
    def gac(id: String): Long = curated(id).getAs[Long]("grouped_ads_count")
    assert(gac("1001") === 2L) // own count
    assert(gac("1012") === 0L) // nulls coalesce to 0
    // 1011 follows invalid-but-parsed rows: 1009 (bad epoch, cc=4) DID update
    // the group state in the reference (state update precedes validation),
    // while missing-key rows (cc=99/50/42) died before the update — so 4.
    assert(gac("1011") === 4L)
    // 1016 sees 1015's cc=7 (inactive rows still contribute).
    assert(gac("1016") === 7L)
  }

  test("media mix: truthiness of card urls, unknown/missing cards → none") {
    def mm(id: String) = curated(id).getAs[String]("media_mix")
    assert(mm("1001") === "video-only") // VIDEO format
    assert(mm("1003") === "image-only") // DCO, video url "" is falsy
    assert(mm("1004") === "both")       // CAROUSEL, both urls on card 1
    assert(mm("1005") === "none")       // CAROUSEL with no cards
    assert(mm("1011") === "video-only") // DCO, image url "" is falsy
  }

  test("text extraction: first card for DCO/CAROUSEL, body.text otherwise, missing → \"\"") {
    def txt(id: String) = curated(id).getAs[String]("ad_text")
    assert(txt("1003") === "el gato y el perro en la casa")
    assert(txt("1004") === "le chat et le chien sont ici")
    assert(txt("1005") === "")
    assert(txt("1001") === "hello world this is english text")
    // an EMPTY cards array is a missing path too: both formats keep the row
    val emptyCards = Seq("DCO", "CAROUSEL").map(f =>
      s"""{"ad_archive_id": "e$f", "is_active": true, "start_date": 1717100000,
         |"snapshot": {"display_format": "$f", "cards": []}}""".stripMargin)
    val parsed = Transform.derive(Transform.flatten(graft.io.Sources.rawAdsFromStrings(
      spark, Seq(("e", emptyCards.mkString("[[", ",", "]]"))))))
    assert(parsed.select("ad_id", "ad_text").collect().map(r => r.getString(0) -> r.getString(1))
      .toMap === Map("eDCO" -> "", "eCAROUSEL" -> ""))
  }

  test("language id: deterministic heuristic incl. zh + undetected") {
    def lang(id: String) = curated(id).getAs[String]("ad_lang_code")
    assert(lang("1001") === "en")
    assert(lang("1003") === "es")
    assert(lang("1004") === "fr")
    assert(lang("1005") === "undetected") // empty text never reaches detection
    assert(lang("1011") === "de")
  }

  test("report: active filter, top-k order with ad_id tie-break, frozen now") {
    assert(report.map(_.getAs[String]("ad_id")).toSeq ===
      Seq("1016", "1001", "1012", "1004", "1003", "1005", "1011"))
    assert(report.map(_.getAs[Long]("hours_passed")).toSeq ===
      Seq(1111L, 100L, 48L, 3L, 2L, 1L, 0L))
  }

  test("half-even rounding: 1800s = 0.5h rounds to 0 like numpy, not 1") {
    val r1011 = report.find(_.getAs[String]("ad_id") == "1011").get
    assert(r1011.getAs[Long]("hours_passed") === 0L)
  }

  test("end_date: null when absent OR equal to start; set otherwise") {
    def row(id: String): Row = report.find(_.getAs[String]("ad_id") == id).get
    assert(row("1003").getAs[java.sql.Timestamp]("end_date") === null) // end == start
    assert(row("1016").getAs[java.sql.Timestamp]("end_date") === null) // end null
    assert(row("1001").getAs[java.sql.Timestamp]("end_date") !== null)
  }

  test("report links and projection order") {
    assert(report.head.schema.fieldNames.toSeq === Report.reportColumns)
    assert(report.forall(r =>
      r.getAs[String]("ad_link") == Report.adLinkPrefix + r.getAs[String]("ad_id")))
  }

  test("validation split partitions the parsed rows (|valid| + |invalid| = 18)") {
    val parsed = Transform.derive(Transform.flatten(
      graft.io.Sources.rawAdsFromStrings(spark, Seq(("f", AdFixture.json)))))
    val (valid, quarantine) = Transform.validate(parsed)
    assert(parsed.count() === 18L)
    assert(valid.count() + quarantine.count() === 18L)
  }

  test("file round-trip: landing json → curated parquet → report csv (S6-S11)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-etl").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tmp/raw.json"), AdFixture.json)
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    AdPipeline.runFiles(spark, s"$tmp/raw.json",
      s"$tmp/curated", s"$tmp/quarantine", s"$tmp/report", AdFixture.frozenNow)
    // the file run releases the frame it persisted
    assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(cachedBefore))
    val back = spark.read.parquet(s"$tmp/curated")
    assert(back.count() === 8L)
    assert(back.schema.fieldNames.toSeq === AdSchema.validated.fieldNames.toSeq)
    val csv = spark.read.option("header", "true").csv(s"$tmp/report")
    assert(csv.count() === 7L)
    val quar = spark.read.json(s"$tmp/quarantine")
    assert(quar.count() === 6L)
  }
}
