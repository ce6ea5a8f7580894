package graft.pipeline

import java.util.Properties
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.SparkSpec
import graft.ingest.Ingest
import graft.lake.Lake
import graft.pipeline.SyntheticChannels.{Chan, json}

/** `Pipeline.loadWarehouse`: concurrent per-channel truncate+reload, one
  * Spark job and one RAW file per channel, the caller's local properties
  * on every load job, all loads finished before a failure surfaces, and
  * colliding table names refused before any load.
  */
class LoadWarehouseSpec extends SparkSpec {

  private val chans = Seq(Chan(1, "Load#A", 1, 1.0), Chan(3, "Load#B", 2, 2.0),
    Chan(4, "Load#C", 3, 3.0), Chan(5, "Load#D", 4, 4.0))
  private val nBatches = 3

  /** A lake of `cs` with `nBatches` appends and a fresh database. */
  private def setup(name: String, cs: Seq[Chan]): Pipeline.Config = {
    val conf = Pipeline.Config(lakePath = scratch(s"load_lake_$name"),
      database = s"load_$name")
    spark.sql(s"DROP DATABASE IF EXISTS ${conf.database} CASCADE")
    (1 to nBatches).foreach { b =>
      Lake.appendBatch(Ingest.extract(spark, cs.map(json(_, b)),
        SyntheticChannels.batchTs(b)), conf.lakePath)
    }
    conf
  }

  private def tablesIn(db: String): Set[String] =
    spark.sql(s"SHOW TABLES IN $db").collect()
      .filterNot(_.getBoolean(2)).map(_.getString(1)).toSet

  /** Properties of every job `body` starts. A marker job run afterwards
    * flushes the listener queue: once its start event arrives, every
    * earlier job's has too.
    */
  private def jobsOf(body: => Unit): Seq[Properties] = {
    val sc = spark.sparkContext
    val marker = "load-spec-marker"
    val started = new ConcurrentLinkedQueue[Properties]()
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == marker) flushed.countDown()
        else started.add(e.properties)
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(marker, marker)
      spark.range(1).count()
      sc.clearJobGroup()
      assert(flushed.await(60, TimeUnit.SECONDS), "listener queue never flushed")
    } finally sc.removeSparkListener(listener)
    started.asScala.toSeq
  }

  private def loadThreads: Seq[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.getName.startsWith("graft-load-") && t.isAlive)

  test("loadWarehouse: one job per channel, one file per RAW table, " +
      "caller's job group and pool on every job") {
    val conf = setup("jobs", chans)
    val sc = spark.sparkContext
    var tables = Seq.empty[String]
    val jobs = jobsOf {
      sc.setJobGroup("hourly-load", "hourly load")
      sc.setLocalProperty("spark.scheduler.pool", "loads")
      try tables = Pipeline.loadWarehouse(spark, conf)
      finally { sc.clearJobGroup(); sc.setLocalProperty("spark.scheduler.pool", null) }
    }
    assert(jobs.size === chans.size)
    assert(jobs.forall(_.getProperty("spark.jobGroup.id") == "hourly-load"))
    assert(jobs.forall(_.getProperty("spark.scheduler.pool") == "loads"))
    assert(tables.size === chans.size)
    tables.foreach { t =>
      assert(spark.table(t).inputFiles.length === 1, t)
      assert(spark.table(t).count() === nBatches, t)
    }
    assert(loadThreads.isEmpty)
  }

  test("loadWarehouse: a corrupt lake file fails its channel only after " +
      "every other load has finished") {
    val conf = setup("corrupt", chans)
    val bad = Lake.channels(spark, conf.lakePath).head
    val part = new java.io.File(Lake.channelPath(conf.lakePath, bad))
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.writeString(part.toPath, "not a parquet file")
    val e = intercept[Throwable](Pipeline.loadWarehouse(spark, conf))
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(c => String.valueOf(c.getMessage).contains(part.getName)),
      chain.map(_.toString))
    assert(loadThreads.isEmpty, loadThreads.map(_.getName))
    val good = Lake.channels(spark, conf.lakePath).filterNot(_ == bad)
    assert(good.map(Ingest.rawTableName).toSet.subsetOf(tablesIn(conf.database)))
    good.foreach { ch =>
      assert(spark.table(s"${conf.database}.${Ingest.rawTableName(ch)}").count() ===
        nBatches, ch)
    }
  }

  test("loadWarehouse refuses two channel keys that share a RAW table") {
    val conf = setup("clash", Seq(Chan(1, "Alpha#One", 1, 1.0),
      Chan(3, "alpha#one", 2, 2.0), Chan(4, "Other#Chan", 3, 3.0)))
    spark.sql(s"CREATE DATABASE ${conf.database}")
    val e = intercept[IllegalArgumentException](Pipeline.loadWarehouse(spark, conf))
    assert(e.getMessage.contains("'Alpha_One'") && e.getMessage.contains("'alpha_one'"),
      e.getMessage)
    assert(e.getMessage.contains("alpha_one_raw"), e.getMessage)
    assert(tablesIn(conf.database).isEmpty)
  }
}
