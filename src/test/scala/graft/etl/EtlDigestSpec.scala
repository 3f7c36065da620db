package graft.etl

import java.time.Instant

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.io.Sources

/** SHA-256 digests of everything one ETL run writes: the curated rows, the
  * quarantine `(record, validation_error)` rows and the report rows. The
  * perfbench checks read only counts and report ids, so these digests are
  * what pins `grouped_ads_count` and `ad_lang_code` end to end. Captured
  * before the running max and the classifier became native kernels.
  */
class EtlDigestSpec extends SparkSpec {

  /** Hex SHA-256 of the rows' strings, one per line; sorted unless `ordered`. */
  private def digest(df: DataFrame, ordered: Boolean = false): String = {
    val rows = df.collect().map(_.toString).toSeq
    val md = java.security.MessageDigest.getInstance("SHA-256")
    (if (ordered) rows else rows.sorted).foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def digests(out: AdPipeline.Outputs): Seq[String] =
    Seq(digest(out.curated), digest(out.quarantine), digest(out.report, ordered = true))

  test("fixture run: curated, quarantine and report digests stay pinned") {
    assert(digests(AdPipeline.fixtureRun(spark)) === Seq(
      "43fe92b2ae31bcccd4339e67fc2ea616548e4b57b6fe65b039a6e43b7210aedf",
      "f0be6731c93b2a74b5472ca45c09c30db217eed98c82a35d6c0f302fce9d5022",
      "625d9a10930da2802cfb43584358cf762e1e82031a8bcd5ee80f07bb4a296d61"))
  }

  test("seeded generated batch: curated, quarantine and report digests stay pinned") {
    val raw = Sources.rawAdsFromStrings(spark, TransformPropertySpec.seededDocs(1L to 24L))
    assert(digests(AdPipeline.run(raw, Instant.ofEpochSecond(1720000000L))) === Seq(
      "d50e1e4da78e409beeaa62028c4e49fae04465a61daae24798f0608722b828e1",
      "ead80a6dcd8e24728f442a372a1a1f9d1212883bc0952d735bfb193b8fa77f43",
      "584e1108bff0438a4159604ec2a86bf9e2e431937cea9b03d273010b15aef1a4"))
  }
}
