package graft.lake

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}
import graft.ingest.Ingest

/** The lake layer (reference: per-channel S3 CSV objects, one prefix per
  * channel, logical append implemented as read-concat-rewrite —
  * /root/reference/dags/extract.py:114-129, W1/S2/S3).
  *
  * Spark-first redesign: a single parquet dataset partitioned by
  * channel_key with `mode("append")` — the sink IS the accumulated state,
  * so the reference's read-modify-write round trip (and its bare-except
  * data-loss hazard) disappears. Partition pruning gives the per-channel
  * read the reference got from key prefixes. At 100 TB: append-only
  * columnar files per partition, no rewrite amplification.
  */
object Lake {

  /** W1: append a batch, partitioned by derived channel key. */
  def appendBatch(batch: DataFrame, path: String): Unit =
    batch
      .withColumn("channel_key", Ingest.channelKey(col("title")))
      .write.mode("append").partitionBy("channel_key").parquet(path)

  /** W1 (reference-fidelity variant): header CSV lake, matching the
    * reference's at-rest format exactly (extract.py:119-120,160-166 —
    * header CSV, schema re-inferred on read). The parquet lake is the
    * scale default; this variant exists because header-CSV is part of the
    * declared surface (S2/W1).
    */
  def appendBatchCsv(batch: DataFrame, path: String): Unit =
    batch
      .withColumn("channel_key", Ingest.channelKey(col("title")))
      .write.mode("append").partitionBy("channel_key")
      .option("header", "true").csv(path)

  /** S2 (CSV variant): header + inferSchema, like pd.read_csv. */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  @volatile private var pinned: StructType = _

  /** The parquet lake's schema: `Ingest.extract`'s output over no
    * responses (an analysis-only plan, no job) plus the `channel_key`
    * partition column. Derived once per JVM, not written out, so it
    * cannot drift from `Schemas`/`Flatten`.
    */
  private def schema(spark: SparkSession): StructType = {
    if (pinned == null)
      pinned = Ingest.extract(spark, Nil, new Timestamp(0L)).schema
        .add("channel_key", StringType)
    pinned
  }

  /** S2/S3: read the whole lake (or one channel via partition pruning).
    * The pinned `schema` spares every read the parquet reader's
    * schema-inference job over the lake's footers, so a channel load is
    * one Spark job (the write).
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schema(spark)).parquet(path)

  def readChannel(spark: SparkSession, path: String, channelKey: String): DataFrame =
    read(spark, path).filter(col("channel_key") === channelKey)

  /** One channel's partition directory, escaped exactly as the
    * partitioned writer named it: key `Rock'n_Roll` lives in
    * `channel_key=Rock%27n_Roll`.
    */
  def channelPath(path: String, channelKey: String): String =
    s"$path/${ExternalCatalogUtils.getPartitionPathString("channel_key", channelKey)}"

  /** Channel discovery (reference: s3.list_objects, extract.py:158-159)
    * — a pure filesystem directory listing of the `channel_key=` partition
    * dirs: no parquet footer reads, no data scan, no Spark job. This is
    * the exact analogue of the reference's bucket listing, and stays O(#
    * partitions) at any data size.
    */
  def channels(spark: SparkSession, path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("channel_key=") =>
        unescapePartitionValue(n.stripPrefix("channel_key=")) }
      .sorted
  }

  /** Hive partition-dir unescape: %XX sequences only. (URLDecoder would
    * additionally turn a literal '+' into a space — Hive never
    * plus-encodes, so that corrupts keys containing '+'.)
    */
  private[lake] def unescapePartitionValue(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        try {
          sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}
