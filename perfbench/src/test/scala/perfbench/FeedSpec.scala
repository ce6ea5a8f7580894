package perfbench

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Pipeline

/** The expected-mart check the hourly workload runs after every cycle:
  * it accepts the mart a pipeline run builds from the seeded feed and
  * rejects each kind of corruption it is meant to catch.
  */
class FeedSpec extends AnyFunSuite {

  test("expected-mart check passes on a real run and fails on corrupted marts") {
    val spark = Main.session(2)
    try {
      val dir = Files.createTempDirectory("perfbench-feed")
      val conf = Pipeline.Config(lakePath = s"$dir/lake", database = "feedspec")
      val chans = Feed.channels(7L, 8)
      Pipeline.run(spark, (0 until 3).map(Feed.batch(chans, _)), conf)
      val exp = Feed.expected(chans, 3)
      assert(exp.perTitle.values.map(_._3).sum > 0, "feed has malformed viewCount cells")
      assert(chans.exists(_.country.isEmpty), "feed has channels without a country")
      assert(Feed.check(spark, conf.database, Pipeline.martTable, exp).isEmpty)

      val mart = spark.table(s"${conf.database}.${Pipeline.martTable}")
      val victim = chans(1).title
      def problems(corrupt: org.apache.spark.sql.DataFrame): Seq[String] = {
        corrupt.write.mode("overwrite").format("parquet").saveAsTable(s"${conf.database}.corrupt")
        Feed.check(spark, conf.database, "corrupt", exp)
      }

      val dropped = problems(mart.filter(col("title") =!= victim))
      assert(dropped.exists(_.contains(victim)), dropped)

      val leaked = problems(mart.withColumn("title",
        when(col("title") === victim, lit(Feed.LocalizedTitle)).otherwise(col("title"))))
      assert(leaked.exists(_.contains(Feed.LocalizedTitle)), leaked)

      val unparsed = problems(mart.withColumn("view_count", lit(null).cast("long")))
      assert(unparsed.size == chans.size, unparsed)

      spark.sql(s"DROP TABLE ${conf.database}.${Feed.rawTable(victim)}")
      val noRaw = Feed.check(spark, conf.database, Pipeline.martTable, exp)
      assert(noRaw.exists(_.startsWith("RAW tables")), noRaw)
    } finally spark.stop()
  }
}
