package graft.pipeline

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ingest.Ingest
import graft.lake.Lake
import graft.warehouse.Warehouse
import graft.mart.YtFacts

/** The end-to-end pipeline driver — the Spark re-expression of the
  * reference's `extract_cloud` DAG (SURVEY §2.11;
  * /root/reference/dags/extract.py:196-217):
  *
  *   extract (API JSON → flat raw rows)           extract.py:199-203
  *   → lake append (per-channel partitions)       extract.py:114-129
  *   → warehouse load (one RAW table per channel) extract.py:156-171
  *   → staging views (dbt `materialized: view`)   dbt_project.yml:36-38
  *   → mart CTAS (cast ×10 cols + N-way UNION)    YT_Facts_stg.sql:3-115
  *
  * What Airflow sequenced as three tasks is three function calls; what
  * dbt ordered via ref() is lazy DataFrame composition Catalyst inlines.
  * Every stage is a distributed Spark job; only the per-channel JSON
  * responses (a handful of driver-side strings, exactly like the
  * reference's API fetch) and table/view names touch the driver.
  */
object Pipeline {

  /** @param lakePath lake root directory
    * @param database catalog database for RAW + mart tables (the
    *                 reference's schema `ytanalytics`, yt_sources.yml:4-14)
    * @param csvLake  header-CSV lake (reference at-rest fidelity, S2/W1)
    *                 vs parquet (the scale default)
    */
  final case class Config(
      lakePath: String,
      database: String = "ytanalytics",
      csvLake: Boolean = false)

  val martTable = "yt_facts_stg"

  /** Extract one batch (all channels' JSON responses) and append it to
    * the lake — task `downloading_rates` (extract.py:199-203).
    */
  def extractBatch(spark: SparkSession, jsons: Seq[String], batchTs: Timestamp,
                   conf: Config): Unit = {
    val raw = Ingest.extract(spark, jsons, batchTs)
    if (conf.csvLake) Lake.appendBatchCsv(raw, conf.lakePath)
    else Lake.appendBatch(raw, conf.lakePath)
  }

  /** Load every discovered channel into `<db>.<channel>_raw` — task
    * `loading_data_db` (extract.py:205-208,156-171). Channel discovery is
    * a filesystem listing (like the reference's bucket listing); each
    * load is truncate+reload (W2). Returns qualified table names.
    *
    * The reference reloads the channels one after another; here the
    * loads run concurrently on at most `defaultParallelism` driver
    * threads, so one channel's planning and commit overlap the others'
    * tasks. The threads are started from the caller's thread and so
    * inherit its Spark local properties (job group, scheduler pool).
    * Every load finishes before the first failure (in channel order) is
    * rethrown, so a `Retry` of this stage never overlaps a straggler.
    * Two channel keys that map to one RAW table are refused before any
    * load starts.
    */
  def loadWarehouse(spark: SparkSession, conf: Config): Seq[String] = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS ${conf.database}")
    val channels = Lake.channels(spark, conf.lakePath)
    val tables = channels.map(ch => s"${conf.database}.${Ingest.rawTableName(ch)}")
    channels.zip(tables).groupBy(_._2).values.find(_.size > 1).foreach { clash =>
      throw new IllegalArgumentException(
        s"channel keys ${clash.map(_._1).sorted.mkString("'", "', '", "'")} " +
          s"all load into table ${clash.head._2}")
    }
    def load(i: Int): Unit = {
      val df =
        if (conf.csvLake) Lake.readCsv(spark, Lake.channelPath(conf.lakePath, channels(i)))
        else Lake.readChannel(spark, conf.lakePath, channels(i)).drop("channel_key")
      Warehouse.loadRaw(df, tables(i))
    }
    val failures = new Array[Throwable](channels.size)
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val workers = Seq.tabulate(channels.size.min(spark.sparkContext.defaultParallelism)) { w =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < channels.size) {
          try load(i) catch { case e: Throwable => failures(i) = e }
          i = next.getAndIncrement()
        }
      }, s"graft-load-$w")
    }
    workers.foreach(_.start())
    workers.foreach(_.join())
    failures.find(_ != null).foreach(e => throw e)
    tables
  }

  /** W4: one identity staging view per RAW table (dbt `materialized:
    * view`) — a zero-copy named subquery the analyzer inlines into the
    * mart plan, exactly like Snowflake inlining dbt's staging views.
    * Returns the view names.
    */
  def registerStaging(spark: SparkSession, rawTables: Seq[String]): Seq[String] =
    rawTables.map { t =>
      val view = t.split('.').last.stripSuffix("_raw") + "_stg"
      Warehouse.table(spark, t).createOrReplaceTempView(view)
      view
    }

  /** Transform: mart build over the staging views + CTAS readback (the
    * Cosmos dbt task group, extract.py:211-215).
    */
  def transform(spark: SparkSession, stagingViews: Seq[String],
                conf: Config): DataFrame = {
    val mart = YtFacts.build(stagingViews.map(spark.table))
    YtFacts.materialize(mart, s"${conf.database}.$martTable")
    spark.table(s"${conf.database}.$martTable")
  }

  /** Full deterministic run over a batch sequence, from a clean lake
    * (the lake is append-only state — replaying without the reset would
    * accumulate prior runs).
    */
  def run(spark: SparkSession, batches: Seq[(Timestamp, Seq[String])],
          conf: Config): DataFrame = {
    deleteDir(spark, conf.lakePath)
    // Reset the database AND its on-disk location: the in-memory catalog
    // forgets tables across JVMs while their files persist, and
    // saveAsTable refuses a "new" managed table over a leftover location.
    spark.sql(s"DROP DATABASE IF EXISTS ${conf.database} CASCADE")
    deleteDir(spark,
      s"${spark.conf.get("spark.sql.warehouse.dir")}/${conf.database}.db")
    batches.foreach { case (ts, jsons) => extractBatch(spark, jsons, ts, conf) }
    val rawTables = loadWarehouse(spark, conf)
    val views = registerStaging(spark, rawTables)
    transform(spark, views, conf)
  }

  /** `run` under the reference DAG's operational contract (extract.py:
    * 178-197): every task wrapped in bounded `Retry`. The retry of each
    * stage is IDEMPOTENT:
    *   - extract (lake append) is the one non-idempotent write, so each
    *     batch attempt snapshots the lake file listing first and the
    *     retry hook sweeps any paths a failed attempt left behind —
    *     partial parquet parts AND stray partition dirs (which would
    *     otherwise become phantom channels in `Lake.channels`) — before
    *     re-running;
    *   - warehouse load is truncate+reload (W2) and mart build is CTAS
    *     overwrite (W5): re-running them is the operation itself.
    * So a run that fails anywhere and retries produces the bit-identical
    * mart of a failure-free run (PipelineSpec proves it with an injected
    * mid-extract fault).
    *
    * @param taskProbe test seam (fault injection): invoked at the start
    *                  of every attempt with the stage id, e.g.
    *                  `extract#2`, `load`, `transform`. Production
    *                  passes the default no-op.
    */
  def runWithRetries(spark: SparkSession,
                     batches: Seq[(Timestamp, Seq[String])], conf: Config,
                     attempts: Int = 3, delayMs: Long = 0L,
                     taskProbe: String => Unit = _ => ()): DataFrame = {
    deleteDir(spark, conf.lakePath)
    spark.sql(s"DROP DATABASE IF EXISTS ${conf.database} CASCADE")
    deleteDir(spark,
      s"${spark.conf.get("spark.sql.warehouse.dir")}/${conf.database}.db")
    batches.zipWithIndex.foreach { case ((ts, jsons), i) =>
      val keep = listPaths(spark, conf.lakePath)
      Retry(s"extract#$i", attempts, delayMs,
          onRetry = () => sweepExcept(spark, conf.lakePath, keep)) {
        taskProbe(s"extract#$i")
        extractBatch(spark, jsons, ts, conf)
      }
    }
    val rawTables = Retry("load", attempts, delayMs) {
      taskProbe("load"); loadWarehouse(spark, conf)
    }
    val views = registerStaging(spark, rawTables)
    Retry("transform", attempts, delayMs) {
      taskProbe("transform"); transform(spark, views, conf)
    }
  }

  /** Every path (files AND directories) under `root`, recursively. */
  private def listPaths(spark: SparkSession, root: String): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(d: org.apache.hadoop.fs.Path): Seq[String] =
      fs.listStatus(d).toSeq.flatMap { st =>
        st.getPath.toString +: (if (st.isDirectory) walk(st.getPath) else Nil)
      }
    if (fs.exists(p)) walk(p).toSet else Set.empty
  }

  /** Delete every path under `root` not present in `keep` — deepest
    * first, so a failed attempt's partition dirs go with their files.
    */
  private def sweepExcept(spark: SparkSession, root: String,
                          keep: Set[String]): Unit = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    listPaths(spark, root).diff(keep).toSeq
      .sortBy(-_.length)
      .foreach { s =>
        val path = new org.apache.hadoop.fs.Path(s)
        if (fs.exists(path)) { fs.delete(path, true); () }
      }
  }

  /** The 5-minute variant as a REAL incremental pipeline (SURVEY §3.3 /
    * optimized_extract.py:117-141): JSON response files dropped into
    * `jsonDir` become one micro-batch each (wholetext file source) —
    * flatten/drops via the same expressions as the batch path, then
    * `foreachBatch` reuses the batch lake writer verbatim, stamping the
    * batch-constant timestamp per micro-batch (P5 semantics). The
    * checkpoint makes file pickup exactly-once — the guarantee the
    * reference's read-concat-rewrite loop lacked.
    *
    * @param batchTs micro-batch id -> wall-clock tag (injectable for
    *                deterministic tests; production passes
    *                `_ => Timestamp.from(Instant.now())`)
    */
  def streamExtract(spark: SparkSession, jsonDir: String, conf: Config,
                    checkpointDir: String, batchTs: Long => Timestamp,
                    trigger: org.apache.spark.sql.streaming.Trigger):
      org.apache.spark.sql.streaming.StreamingQuery = {
    val responses = spark.readStream
      .option("wholetext", "true").text(jsonDir)
    val items = Ingest.itemsOf(responses)
    val flat = graft.ingest.Flatten.loopdict(items)
      .drop(Ingest.dropCols: _*)
    flat.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val tagged = batch.withColumn("timestamp",
          org.apache.spark.sql.functions.lit(batchTs(id)))
        if (conf.csvLake) Lake.appendBatchCsv(tagged, conf.lakePath)
        else Lake.appendBatch(tagged, conf.lakePath)
      }
      .trigger(trigger)
      .start()
  }

  private def deleteDir(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }
}
