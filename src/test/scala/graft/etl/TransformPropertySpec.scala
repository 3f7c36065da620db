package graft.etl

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.io.Sources

/** Property-based invariants (SURVEY.md §5.3) over randomly generated raw
  * documents: the validation split partitions the input, dedup keeps exactly
  * the first occurrence per key, and derived enums are total. Generators
  * run under fixed seeds (no scalatest-scalacheck bridge in the offline
  * dependency set) so failures reproduce exactly.
  */
class TransformPropertySpec extends SparkSpec {
  import TransformPropertySpec._

  test("pipeline invariants hold over generated documents") {
    val docs = (1L to 8L).flatMap { i =>
      genDoc.apply(Gen.Parameters.default.withSize(20), Seed(i))
    }
    assert(docs.size === 8)
    docs.foreach { doc =>
      val raw = Sources.rawAdsFromStrings(spark, Seq(("p", doc)))
      val parsed = Transform.derive(Transform.flatten(raw)).cache()
      val (valid, quarantine) = Transform.validate(parsed)
      val deduped = Transform.dedup(valid)

      val nParsed = parsed.count()
      // split partitions the input
      assert(valid.count() + quarantine.count() === nParsed)
      // every parsed row has total derived enums
      val mixes = parsed.select("media_mix").distinct()
        .collect().map(_.getString(0)).toSet
      assert(mixes.subsetOf(Set("video-only", "image-only", "both", "none")))
      assert(parsed.filter("ad_lang_code IS NULL").count() === 0)

      // dedup: unique keys (nulls collapse like pandas NaN-equality)
      Seq("ad_id", "ad_group_id", "ad_text").foreach { k =>
        val dup = deduped.groupBy(k).count().filter("count > 1").count()
        assert(dup === 0, s"duplicate $k survived")
      }
      // keep-first: each surviving ad_id row is the first valid row in
      // (doc_id, group_idx, pos) order for that key
      val firsts = valid.orderBy("doc_id", "group_idx", "pos")
        .select("ad_id", "group_idx", "pos").collect()
        .groupBy(_.getString(0)).map { case (k, rows) =>
          k -> (rows.head.getInt(1), rows.head.getInt(2)) }
      val survivors = deduped.select("ad_id", "group_idx", "pos").collect()
        .map(r => r.getString(0) -> (r.getInt(1), r.getInt(2))).toMap
      survivors.foreach { case (k, pos) =>
        assert(firsts(k) === pos, s"survivor for $k is not the first occurrence")
      }
      parsed.unpersist()
    }
  }

  test("running max: the array kernel equals the window reference over generated groups") {
    val raw = Sources.rawAdsFromStrings(spark, seededDocs(1L to 40L, genDocWithNullAds))
    val flat = Transform.flatten(raw)
    val got = Transform.derive(flat).select("doc_id", "group_idx", "pos", "grouped_ads_count")
    def rows(df: org.apache.spark.sql.DataFrame): Set[(String, Int, Int, Long)] =
      df.collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSet
    val expected = rows(TransformReference.runningMax(flat))
    assert(rows(got) === expected)
    assert(expected.size === flat.count())
    // the sweep holds every case the contribution boundary separates
    val ad = col("ad")
    val nonContributing = ad.getField("ad_archive_id").isNull ||
      ad.getField("is_active").isNull || ad.getField("start_date").isNull
    assert(flat.filter(ad.isNull).count() > 0, "no null ad")
    Seq("ad_archive_id", "is_active", "start_date", "collation_count").foreach { f =>
      assert(flat.filter(ad.isNotNull && ad.getField(f).isNull).count() > 0, s"no ad without $f")
    }
    assert(flat.filter(col("pos") === 0 && nonContributing).count() > 0,
      "no group opens with a non-contributing ad")
    val emptyGroups = raw
      .select(explode(from_json(col("value"), AdSchema.rawDocument)).as("g"))
      .filter(size(col("g")) === 0).count()
    assert(emptyGroups > 0, "no empty group")
  }
}

/** The raw-document generators, shared with the specs that pin the ETL's
  * outputs over the same seeded batches.
  */
object TransformPropertySpec {

  private val genId: Gen[Option[String]] =
    Gen.option(Gen.chooseNum(1, 6).map(n => s"id$n"))
  private val genEpoch: Gen[Option[Long]] = Gen.option(Gen.oneOf(
    Gen.chooseNum(1600000000L, 1720000000L), Gen.const(0L),
    Gen.const(999999999999999L)).flatMap(g => g))
  private val genFormat: Gen[Option[String]] =
    Gen.option(Gen.oneOf("VIDEO", "IMAGE", "DCO", "CAROUSEL", "TEXT", "XR"))

  private val genAd: Gen[String] = for {
    id <- genId
    active <- Gen.option(Gen.oneOf(true, false))
    start <- genEpoch
    end <- genEpoch
    tat <- Gen.option(Gen.chooseNum(0L, 500000L))
    gid <- Gen.option(Gen.chooseNum(1, 4).map(n => s"g$n"))
    cnt <- Gen.option(Gen.chooseNum(0L, 9L))
    fmt <- genFormat
    text <- Gen.option(Gen.oneOf("the cat", "el perro grande", "x y z", ""))
    hasCard <- Gen.oneOf(true, false)
  } yield {
    def j(o: Option[_]): String = o match {
      case Some(s: String) => "\"" + s + "\""
      case Some(v) => v.toString
      case None => "null"
    }
    val card = if (hasCard)
      """, "cards": [{"body": "card body", "video_hd_url": "u", "original_image_url": ""}]"""
    else ""
    s"""{"ad_archive_id": ${j(id)}, "is_active": ${j(active)},
        "start_date": ${j(start)}, "end_date": ${j(end)},
        "total_active_time": ${j(tat)}, "collation_id": ${j(gid)},
        "collation_count": ${j(cnt)},
        "snapshot": {"display_format": ${j(fmt)},
                     "body": {"text": ${j(text)}}$card}}"""
  }

  private val genDoc: Gen[String] = for {
    groups <- Gen.listOfN(3, Gen.chooseNum(0, 4).flatMap(n => Gen.listOfN(n, genAd)))
  } yield groups.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")

  /** [[genDoc]] whose groups may also hold null ads. */
  private val genDocWithNullAds: Gen[String] = for {
    groups <- Gen.listOfN(3, Gen.chooseNum(0, 4).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(1 -> Gen.const("null"), 5 -> genAd))))
  } yield groups.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")

  /** One document per seed, each under its own doc_id. */
  private[etl] def seededDocs(seeds: Seq[Long], gen: Gen[String] = genDoc): Seq[(String, String)] =
    seeds.map(i => s"p$i" -> gen.apply(Gen.Parameters.default.withSize(20), Seed(i)).get)
}
