package perfbench

import java.sql.Timestamp
import java.time.Instant
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** A seeded YouTube `channels().list` feed for the pipeline workloads,
  * in the response shape of `graft.pipeline.SyntheticChannels.json`
  * (FIXTURES.md §A.1), with the edge cases that fixture calls for spread
  * over any number of channels:
  *   - titles with spaces, and titles with '-' and '/' (RAW table name
  *     derivation, extract.py:115,162);
  *   - channels without a `country` field (union null-fill);
  *   - malformed `viewCount` cells ("N/A", "1,234", ""), which the mart's
  *     try_cast turns into NULL;
  *   - a `localizations.en.title` that keep-first flattening must drop.
  * Every value is a function of (seed, channel, batch), so the expected
  * mart is computed here without running the engine.
  */
object Feed {
  val LocalizedTitle = "LOCALIZED TITLE MUST NOT WIN"

  final case class Channel(k: Int, title: String, country: Option[String],
                           baseViews: Long, kids: Boolean)

  /** The seed picks every value; the shape of the feed (which channels
    * lack a country, which cells are malformed, value widths) is fixed, so
    * every seed asks the engine for the same work.
    */
  def channels(seed: Long, n: Int): IndexedSeq[Channel] = {
    val rng = new scala.util.Random(seed)
    (0 until n).map { k =>
      val title = k % 4 match {
        case 0 => s"Channel $k Music"
        case 1 => s"Kids-$k Club/HD"
        case 2 => s"Studio $k"
        case _ => s"Daily-$k News"
      }
      Channel(k, title,
        country = if (k % 4 == 2) None else Some(s"C${10 + rng.nextInt(90)}"),
        baseViews = 1000000000L + rng.nextInt(1000000000),
        kids = rng.nextBoolean())
    }
  }

  /** Batch `b`'s wall-clock tag: hourly from 2026-01-01T00:00Z. */
  def batchTs(b: Int): Timestamp =
    Timestamp.from(Instant.parse("2026-01-01T00:00:00Z").plusSeconds(3600L * b))

  /** The parsed view count of channel `c` in batch `b`; None for a
    * malformed cell (one cell in four).
    */
  def views(c: Channel, b: Int): Option[Long] =
    if ((b + c.k) % 4 == 0) None else Some(c.baseViews + 1000L * b + c.k)

  private val malformed = IndexedSeq("N/A", "1,234", "")

  def json(c: Channel, b: Int): String = {
    val viewCount = views(c, b).fold(malformed((b + c.k) % malformed.size))(_.toString)
    val country = c.country.fold("")(x => s""""country": "$x",""")
    s"""{"kind": "youtube#channelListResponse", "etag": "resp-${c.k}-$b",
       | "items": [{"kind": "youtube#channel", "etag": "item-${c.k}-$b", "id": "UC${c.k}",
       |  "snippet": {"title": "${c.title}", "description": "channel ${c.k}",
       |   "customUrl": "@chan${c.k}", "publishedAt": "2012-02-20T00:43:50Z",
       |   "thumbnails": {
       |    "default": {"url": "https://img/${c.k}/default.jpg", "width": 88, "height": 88},
       |    "medium": {"url": "https://img/${c.k}/medium.jpg", "width": 240, "height": 240},
       |    "high": {"url": "https://img/${c.k}/high.jpg", "width": 800, "height": 800}},
       |   $country "__end": null},
       |  "statistics": {"viewCount": "$viewCount", "subscriberCount": "${c.k * 100 + b}",
       |   "hiddenSubscriberCount": false, "videoCount": "${c.k * 10 + b}"},
       |  "status": {"privacyStatus": "public", "isLinked": true,
       |   "longUploadsStatus": "longUploadsUnspecified", "madeForKids": ${c.kids}},
       |  "topicDetails": {"topicIds": ["/m/t${c.k}"],
       |   "topicCategories": ["https://en.wikipedia.org/wiki/Cat${c.k}"]},
       |  "localizations": {"en": {"title": "$LocalizedTitle", "description": "loc"}}}]}""".stripMargin
  }

  def batch(chans: Seq[Channel], b: Int): (Timestamp, Seq[String]) =
    batchTs(b) -> chans.map(json(_, b))

  /** The RAW table the reference derives from a title (extract.py:115,162). */
  def rawTable(title: String): String =
    (title.replace('-', ' ').split('/')(0).split(' ').mkString("_") + "_raw").toLowerCase

  /** What the mart must hold after batches `0 until nBatches`: per title,
    * (rows, sum of parsed view counts, NULL view counts).
    */
  final case class Expected(perTitle: Map[String, (Long, Long, Long)],
                            rawTables: Set[String])

  def expected(chans: Seq[Channel], nBatches: Int): Expected =
    Expected(
      chans.map { c =>
        val vs = (0 until nBatches).map(views(c, _))
        c.title -> ((nBatches.toLong, vs.flatten.sum, vs.count(_.isEmpty).toLong))
      }.toMap,
      chans.map(c => rawTable(c.title)).toSet)

  /** Compare the mart and the RAW tables of `database` with `exp`.
    * Returns one line per problem; empty when the mart is right. A
    * localization title leaking into the mart shows as an unexpected
    * title.
    */
  def check(spark: SparkSession, database: String, mart: String,
            exp: Expected): Seq[String] = {
    val got = spark.table(s"$database.$mart")
      .groupBy("title")
      .agg(count(lit(1)), coalesce(sum("view_count"), lit(0L)),
        sum(when(col("view_count").isNull, 1L).otherwise(0L)))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val raw = spark.catalog.listTables(database).collect()
      .map(_.name).filter(_.endsWith("_raw")).toSet
    val titles = (got.keySet ++ exp.perTitle.keySet).toSeq.sorted
    titles.flatMap { t =>
      (got.get(t), exp.perTitle.get(t)) match {
        case (g, e) if g == e => None
        case (g, e) => Some(s"title '$t': (rows, view sum, view nulls) got $g, expected $e")
      }
    } ++ (if (raw == exp.rawTables) Nil
          else Seq(s"RAW tables ${raw.toSeq.sorted} != expected ${exp.rawTables.toSeq.sorted}"))
  }
}
