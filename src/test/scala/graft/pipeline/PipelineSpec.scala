package graft.pipeline

import graft.SparkSpec

/** SURVEY §5.4: full pipeline replay over reference-shaped fixtures —
  * mart schema equals §1.2's table, row count = channels × batches, and
  * the parquet and header-CSV lake variants agree.
  */
class PipelineSpec extends SparkSpec {

  private val chans = Seq(
    SyntheticChannels.Chan(1, "Pipe#A", 1, 10.0),
    SyntheticChannels.Chan(2, "Pipe#B", 2, -4.0), // negative bal -> madeForKids=false
    SyntheticChannels.Chan(5, "Pipe#C", 3, 8.0))  // k=5 -> malformed viewCount
  private val nBatches = 2

  private def batches(cs: Seq[SyntheticChannels.Chan] = chans) =
    (1 to nBatches).map(b =>
      SyntheticChannels.batchTs(b) -> cs.map(SyntheticChannels.json(_, b)))

  private def runWith(name: String, csv: Boolean,
                      cs: Seq[SyntheticChannels.Chan] = chans) =
    Pipeline.run(spark, batches(cs),
      Pipeline.Config(lakePath = scratch(s"pipe_lake_$name"),
        database = s"ytanalytics_$name", csvLake = csv))

  test("pipeline replay: row count = channels x batches, schema = A.3") {
    val mart = runWith("pq", csv = false)
    assert(mart.count() === chans.size * nBatches)
    assert(mart.columns.toSeq === Seq("title", "customUrl", "PublishedAt",
      "url_", "Country", "view_count", "subscriberCount", "videoCount",
      "madeForKids", "timestamp"))
    val rows = mart.collect()
    // keep-first flatten: url_ is always the DEFAULT thumbnail
    assert(rows.forall(_.getAs[String]("url_").endsWith("/default.jpg")))
    // malformed viewCount (k=5 channel) -> NULL in every batch
    assert(rows.count(_.isNullAt(mart.columns.indexOf("view_count"))) === nBatches)
    // negative-balance channel -> madeForKids=false
    assert(rows.count(r => !r.getAs[Boolean]("madeForKids")) === nBatches)
  }

  test("pipeline replay is idempotent (rerun produces identical mart)") {
    val a = runWith("idem", csv = false).collect().map(_.toString).sorted
    val b = runWith("idem", csv = false).collect().map(_.toString).sorted
    assert(a === b)
  }

  test("header-CSV lake variant produces the same mart as parquet") {
    // "Rock'n Roll": key Rock'n_Roll, lake dir channel_key=Rock%27n_Roll,
    // table rock_n_roll_raw
    val withRock = chans :+ SyntheticChannels.Chan(4, "Rock'n#Roll", 4, 3.0)
    val pq = runWith("pq2", csv = false, withRock).collect().map(_.toString).sorted
    val cs = runWith("csv", csv = true, withRock).collect().map(_.toString).sorted
    assert(cs === pq)
    assert(pq.length === withRock.size * nBatches)
    assert(pq.count(_.startsWith("[Rock'n Roll,")) === nBatches)
  }

  test("staging views are registered in the session (W4)") {
    runWith("views", csv = false)
    val views = spark.catalog.listTables().collect().map(_.name)
    assert(views.exists(_.endsWith("_stg")))
  }

  test("retry after an injected mid-extract fault yields the identical mart") {
    // Baseline: failure-free run.
    val want = runWith("retry_base", csv = false)
      .collect().map(_.toString).sorted
    // Faulted run: batch 1's first extract attempt leaves a PARTIAL
    // lake write behind — a stray parquet part inside a phantom
    // channel partition — then dies. The retry hook must sweep it
    // (file AND dir) before the re-attempt, or the phantom channel
    // becomes a warehouse table and the mart diverges.
    val lake = scratch("pipe_lake_retry_flaky")
    val failed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val probe: String => Unit = {
      case "extract#1" if !failed.getAndSet(true) =>
        val junkDir = new java.io.File(s"$lake/channel_key=PHANTOM")
        junkDir.mkdirs()
        java.nio.file.Files.writeString(
          new java.io.File(junkDir, "part-junk.parquet").toPath, "partial")
        sys.error("injected extract fault")
      case _ => ()
    }
    val mart = Pipeline.runWithRetries(spark, batches(),
      Pipeline.Config(lakePath = lake, database = "ytanalytics_retry_flaky"),
      attempts = 3, taskProbe = probe)
    assert(failed.get(), "fault was never injected")
    assert(mart.collect().map(_.toString).sorted === want)
    // the phantom partition must not have survived into the warehouse
    val tables = spark.sql("SHOW TABLES IN ytanalytics_retry_flaky")
      .collect().map(_.getString(1))
    assert(!tables.exists(_.toLowerCase.contains("phantom")), tables.toSeq)
  }

  test("retries are bounded: attempts exhausted rethrows the last failure") {
    var calls = 0
    val e = intercept[RuntimeException] {
      Retry("always-fails", attempts = 3) { calls += 1; sys.error(s"boom $calls") }
    }
    assert(calls === 3)
    assert(e.getMessage === "boom 3")
  }

  test("catchup=false runs only the latest pending batch (extract.py:196)") {
    def ts(d: Int) = SyntheticChannels.batchTs(d)
    val pending = Seq(ts(1) -> "a", ts(2) -> "b", ts(3) -> "c")
    // no prior run, no catchup: latest only — the reference's choice
    assert(Retry.selectBatches(pending, None, catchup = false) ===
      Seq(ts(3) -> "c"))
    // catchup replays the full missed backlog after lastRun
    assert(Retry.selectBatches(pending, Some(ts(1)), catchup = true) ===
      Seq(ts(2) -> "b", ts(3) -> "c"))
    // nothing pending after lastRun: both modes are a no-op
    assert(Retry.selectBatches(pending, Some(ts(3)), catchup = false) === Nil)
    assert(Retry.selectBatches(pending, Some(ts(3)), catchup = true) === Nil)
  }

  test("streaming extract (5-min variant) fills the same lake as batch extract") {
    import org.apache.spark.sql.streaming.Trigger
    val jsonDir = scratch("stream_json"); val cp = scratch("stream_cp")
    val streamLake = scratch("stream_lake"); val batchLake = scratch("batch_lake")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(jsonDir))

    def dropFiles(b: Int): Unit = chans.zipWithIndex.foreach { case (c, i) =>
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(jsonDir, s"resp_${b}_$i.json"),
        SyntheticChannels.json(c, b))
    }
    def runOnce(): Unit = {
      val q = Pipeline.streamExtract(spark, jsonDir,
        Pipeline.Config(lakePath = streamLake), cp,
        batchTs = id => SyntheticChannels.batchTs(id.toInt + 1),
        trigger = Trigger.AvailableNow())
      q.awaitTermination()
    }
    dropFiles(1); runOnce()   // micro-batch 0 -> batchTs(1)
    dropFiles(2); runOnce()   // micro-batch 1 -> batchTs(2) (checkpoint resume)

    (1 to nBatches).take(2).foreach { b =>
      graft.lake.Lake.appendBatch(
        graft.ingest.Ingest.extract(spark, chans.map(SyntheticChannels.json(_, b)),
          SyntheticChannels.batchTs(b)), batchLake)
    }
    val got = graft.lake.Lake.read(spark, streamLake)
    val want = graft.lake.Lake.read(spark, batchLake)
    assert(got.count() === chans.size * 2)
    val cols = want.columns.sorted.toSeq
    assert(got.columns.sorted.toSeq === cols)
    assert(got.select(cols.head, cols.tail: _*).collect().map(_.toString).sorted.toSeq ===
      want.select(cols.head, cols.tail: _*).collect().map(_.toString).sorted.toSeq)
  }
}
