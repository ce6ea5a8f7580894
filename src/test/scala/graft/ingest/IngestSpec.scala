package graft.ingest

import java.sql.Timestamp
import java.time.Instant
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.pipeline.SyntheticChannels.{Chan, json}

/** P4/P5/P7 semantics (/root/reference/dags/extract.py:109-116,162-164):
  * channel-key derivation edge cases, batch-constant timestamp, drops.
  */
class IngestSpec extends SparkSpec {

  private def keyOf(title: String): String = {
    import spark.implicits._
    Seq(title).toDF("t").select(Ingest.channelKey(col("t"))).head().getString(0)
  }

  test("channelKey: '-'→' ', keep before first '/', join spaces with '_'") {
    // reference: '_'.join(title.replace('-',' ').split('/')[0].split(' '))
    assert(keyOf("Jungle-Toons/Kids HD") === "Jungle_Toons")
    assert(keyOf("MrBeast") === "MrBeast")
    assert(keyOf("VJ Siddhu Vlogs") === "VJ_Siddhu_Vlogs")
    assert(keyOf("T-Series") === "T_Series")
    assert(keyOf("A/B/C") === "A")
  }

  test("objectKey matches `<key>/<key>_data.csv`") {
    import spark.implicits._
    val k = Seq("Jungle-Toons/x").toDF("t")
      .select(Ingest.objectKey(col("t"))).head().getString(0)
    assert(k === "Jungle_Toons/Jungle_Toons_data.csv")
  }

  test("rawTableName joins spaces and appends _RAW, lowercased") {
    assert(Ingest.rawTableName("Jungle Toons") === "jungle_toons_raw")
    assert(Ingest.rawTableName("MrBeast") === "mrbeast_raw")
  }

  test("rawTableName is a valid Spark identifier for any channel key") {
    assert(Ingest.rawTableName("Rock'n_Roll") === "rock_n_roll_raw")
    assert(Ingest.rawTableName("Caf\u00e9_M\u00fcsic") === "caf__m_sic_raw")
    assert(Ingest.rawTableName("A#B.C`D") === "a_b_c_d_raw")
    for (key <- Seq("Rock'n_Roll", "A#B.C`D", "X+Y_Z", "100%")) {
      val name = Ingest.rawTableName(key)
      assert(spark.sessionState.sqlParser.parseMultipartIdentifier(s"db.$name") ===
        Seq("db", name), key)
    }
  }

  test("extract drops API housekeeping columns and stamps a batch-constant timestamp") {
    val ts = Timestamp.from(Instant.parse("2026-02-01T00:00:00Z"))
    val raw = Ingest.extract(spark,
      Seq(json(Chan(1, "A#B", 1, 5.0), 1), json(Chan(2, "C#D", 2, -3.0), 1)), ts)
    for (dropped <- Seq("kind", "description", "etag", "id", "topicIds", "topicCategories"))
      assert(!raw.columns.contains(dropped), s"$dropped should be dropped")
    val tss = raw.select("timestamp").collect().map(_.getTimestamp(0)).distinct
    assert(tss === Array(ts)) // batch-CONSTANT, not per-row clock
    assert(raw.count() === 2)
  }

  test("corrupt or schema-less JSON responses degrade to zero rows, not errors") {
    val ts = Timestamp.from(Instant.parse("2026-02-01T00:00:00Z"))
    val raw = Ingest.extract(spark, Seq(
      json(Chan(1, "A#B", 1, 5.0), 1), // one good response
      "{ this is not json",            // syntactically corrupt
      """{"kind": "other#thing"}"""),  // valid JSON, no items array
      ts)
    assert(raw.count() === 1) // load-tolerant: only the good item lands
  }

  test("extract keeps the flattened raw surface (FIXTURES A.2)") {
    val ts = Timestamp.from(Instant.parse("2026-02-01T00:00:00Z"))
    val raw = Ingest.extract(spark, Seq(json(Chan(3, "E#F", 3, 1.0), 2)), ts)
    val expected = Seq("title", "customUrl", "publishedAt", "url", "width",
      "height", "country", "viewCount", "subscriberCount",
      "hiddenSubscriberCount", "videoCount", "privacyStatus", "isLinked",
      "longUploadsStatus", "madeForKids", "timestamp")
    assert(raw.columns.toSeq === expected)
  }
}
