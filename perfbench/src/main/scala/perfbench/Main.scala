package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession
import graft.ingest.Ingest
import graft.lake.Lake
import graft.pipeline.Pipeline
import graft.warehouse.Warehouse

/** One benchmark run of one workload in one JVM with one driver thread,
  * issuing operations in a closed loop.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --data TABLES_DIR --out RUN_DIR
  *
  * Writes RUN_DIR/result.json (metrics, attempted, failed, problems),
  * RUN_DIR/check/ (query outputs in Verify's layout, for
  * tools/selfcheck.py) and, traced, RUN_DIR/spans.json. `perfbench/run.py`
  * builds, launches and checks this.
  */
object Main {

  /** Checkpointed-loop queries, one per loop family: Graph (k-hop
    * frontiers), kmeans and BPE merges. Driver-bound: most wall time is
    * spent inside the query function.
    */
  val Loops: Seq[String] = Seq(
    "q199_khop_frontiers", "q268_kmeans_capped_build", "q213_bpe_merges")

  val Layers = Seq("ingest", "lake", "warehouse", "pipeline", "mart", "queries", "spark")
  val Timed = Seq("ingest.extract", "lake.append", "lake.channels", "warehouse.load",
    "pipeline.staging", "mart.build", "queries.build", "spark.exec", "queries.cleanup")

  // Hourly feed: channels, history batches, cycles per unit.
  val HourlyChannels = 8
  val HourlyHistory = 1
  val HourlyCycles = 3

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, out: String)

  /** What a workload run measured. `units` are the workload's unit
    * latencies (one set of hourly cycles, one query pass); `ops` are single
    * operations (one cycle, one query).
    */
  final case class Outcome(units: Seq[Double], ops: Seq[Double], attempted: Int,
                           failed: Int, problems: Seq[String],
                           stats: Map[String, Double])

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("data"), kv("out"))
    val cores = Runtime.getRuntime.availableProcessors
    val run: (SparkSession, Tracer) => Outcome = a.workload match {
      case "pipeline_hourly" => hourly(_, a, _)
      case "query_loops" => queries(_, a, _, Loops)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // Set-up three times: a fresh session, then the first touch of the
    // workload's inputs. The first includes JVM and class loading.
    var spark: SparkSession = null
    val setups = (1 to 3).map { _ =>
      val t = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(cores)
      touch(spark, a)
      secs(t)
    }
    val tracer = new Tracer(spark, a.trace)
    val o = run(spark, tracer)

    val metrics: Map[String, Double] =
      if (!a.trace) Map(
        "setup_s" -> median(setups),
        "run_s" -> median(o.units),
        "op_p50_s" -> median(o.ops),
        "heap_peak_mb" -> Heap.peakMb)
      else tracer.layerMetrics(Layers, cores, o.units.size) ++
        tracer.timers(Timed, o.units.size) ++ o.stats
    println(f"perfbench ${a.workload} seed=${a.seed} trace=${a.trace}: " +
      f"${o.units.size} units, run_s median ${median(o.units)}%.3f s; " +
      f"${o.ops.size} ops, op_p50_s ${median(o.ops)}%.3f s " +
      o.ops.map(x => f"$x%.2f").mkString("(", " ", "); ") +
      f"failed ${o.failed}/${o.attempted}; setups ${setups.map(s => f"$s%.2f").mkString(" ")} s")
    if (a.trace) {
      report(tracer, o)
      Files.writeString(Paths.get(a.out, "spans.json"), tracer.toJson)
    }
    o.problems.foreach(p => println(s"problem: $p"))
    val json = metrics.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}: $v" }
      .mkString("{", ", ", "}")
    Files.writeString(Paths.get(a.out, "result.json"),
      s"""{"attempted": ${o.attempted}, "failed": ${o.failed}, "metrics": $json, """ +
        s""""problems": ${o.problems.map(q).mkString("[", ", ", "]")}}""")
    spark.stop()
  }

  /** The session `graft.Bench` builds, so the plan measured here is the
    * plan Bench times.
    */
  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", graft.util.TmpDirs.perProcess("graft_warehouse"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** First touch of the workload's inputs: every query table's footer
    * and rows, or a clean lake and database and the parsed feed history.
    */
  def touch(spark: SparkSession, a: Args): Unit =
    if (a.workload.startsWith("query"))
      graft.util.Tables.names.foreach(n => spark.read.parquet(s"${a.data}/$n.parquet").count())
    else {
      val c = pipelineConf(a)
      spark.sql(s"DROP DATABASE IF EXISTS ${c.database} CASCADE")
      delete(spark, c.lakePath)
      delete(spark, s"${spark.conf.get("spark.sql.warehouse.dir")}/${c.database}.db")
      val chans = Feed.channels(a.seed, HourlyChannels)
      (0 until HourlyHistory).map(Feed.batch(chans, _)).foreach { case (ts, jsons) =>
        Ingest.extract(spark, jsons, ts).count()
      }
    }

  def pipelineConf(a: Args): Pipeline.Config =
    Pipeline.Config(lakePath = s"${a.out}/lake", database = "perfbench")

  // ---------------------------------------------------------------- queries

  def queries(spark: SparkSession, a: Args, tr: Tracer, names: Seq[String]): Outcome = {
    val fns = graft.SparkEntry.queries
    val problems = ArrayBuffer.empty[String]
    var attempted, failed = 0
    def attempt(name: String)(body: => Unit): Unit = {
      attempted += 1
      try body
      catch { case e: Throwable =>
        failed += 1
        problems += s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      }
    }
    // Untimed pass in Verify's layout, checked afterwards against the
    // DuckDB oracles; it also warms the JIT for the timed passes.
    val check = s"${a.out}/check"
    val t0 = System.nanoTime()
    names.foreach { n =>
      attempt(n)(fns(n)(spark, a.data).coalesce(1).write.mode("overwrite").parquet(s"$check/$n"))
      spark.catalog.clearCache()
    }
    println(f"check pass: ${names.size} queries in ${secs(t0)}%.2f s")
    val oracle = graft.SparkEntry.oracleSql
    Files.writeString(Paths.get(check, "oracle_sql.json"),
      names.map(n => s"${q(n)}: ${q(oracle(n))}").mkString("{", ",\n", "}"))

    // Timed passes, each in a fresh seeded order, until `seconds` are
    // measured. An operation is one query: build, noop write, cache release.
    val rng = new scala.util.Random(a.seed)
    var op = 0
    val (units, ops) = measure(a.seconds, tr) {
      val pass = rng.shuffle(names).map { n =>
        val t = System.nanoTime()
        attempt(n) {
          val df = tr.span("queries.build", op)(fns(n)(spark, a.data))
          tr.span("spark.exec", op)(df.write.format("noop").mode("overwrite").save())
        }
        tr.span("queries.cleanup", op)(spark.catalog.clearCache())
        op += 1
        secs(t)
      }
      Heap.sample(spark)
      pass
    }
    Outcome(units, ops, attempted, failed, problems.toSeq,
      Map("pipeline.attempts" -> 0.0, "pipeline.useful_ratio" -> 1.0) ++
        Seq("lake.files", "lake.bytes", "warehouse.files", "mart.rows", "mart.files")
          .map(_ -> 0.0))
  }

  // --------------------------------------------------------------- pipeline

  /** The reference's hourly cycle over a seeded history: extract one
    * batch into the lake, reload every RAW table, re-register staging,
    * rebuild the mart, then read the mart back and check it (untimed). A
    * unit is `HourlyCycles` cycles after one untimed warm-up cycle; each
    * unit starts from the same history, so every unit reads the same
    * growing lake.
    *
    * The history is set up with `Pipeline.runWithRetries`, with one fault
    * injected through its task probe (the first extract attempt) that
    * `Retry` must absorb; its attempts are the `pipeline.attempts`
    * counters. The fault's stage is fixed: where it lands changes the
    * cost of the cycles after it.
    */
  def hourly(spark: SparkSession, a: Args, tr: Tracer): Outcome = {
    val conf = pipelineConf(a)
    val chans = Feed.channels(a.seed, HourlyChannels)
    val problems = ArrayBuffer.empty[String]
    var attempted, failed, op = 0

    val t0 = System.nanoTime()
    val stages = scala.collection.mutable.Set.empty[String]
    var attempts = 0
    Pipeline.runWithRetries(spark, (0 until HourlyHistory).map(Feed.batch(chans, _)), conf,
      taskProbe = { stage =>
        attempts += 1
        if (stages.add(stage) && stage == "extract#0")
          throw new RuntimeException(s"injected fault at $stage")
      })
    problems ++= Feed.check(spark, conf.database, Pipeline.martTable,
      Feed.expected(chans, HourlyHistory))
    val history = listFiles(spark, conf.lakePath).toSet
    println(f"history: ${secs(t0)}%.2f s")
    var stats = Map.empty[String, Double]

    val fs = new HPath(conf.lakePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def restoreHistory(): Unit =
      listFiles(spark, conf.lakePath).filterNot(history).foreach(p => fs.delete(new HPath(p), false))
    /** One cycle on batch `b`, then the mart check; (seconds, passed). */
    def checkedCycle(b: Int, trace: Tracer): (Double, Boolean) = {
      val (ts, jsons) = Feed.batch(chans, b)
      val t = System.nanoTime()
      val ok =
        try { cycle(spark, conf, ts, jsons, trace, op); true }
        catch { case e: Throwable =>
          problems += s"cycle $b: ${e.getClass.getSimpleName}: ${e.getMessage}"
          false
        }
      val s = secs(t)
      val bad = Feed.check(spark, conf.database, Pipeline.martTable, Feed.expected(chans, b + 1))
      problems ++= bad
      (s, ok && bad.isEmpty)
    }

    checkedCycle(HourlyHistory, new Tracer(spark, enabled = false)) // warm-up
    restoreHistory()
    val (units, ops) = measure(a.seconds, tr) {
      val cycles = (HourlyHistory until HourlyHistory + HourlyCycles).map { b =>
        val (s, ok) = checkedCycle(b, tr)
        op += 1
        attempted += 1
        if (!ok) failed += 1
        s
      }
      stats = pipelineStats(spark, conf)
      Heap.sample(spark)
      restoreHistory()
      cycles
    }
    Outcome(units, ops, attempted, failed, problems.toSeq, stats ++ Map(
      "pipeline.attempts" -> attempts.toDouble,
      "pipeline.useful_ratio" -> stages.size.toDouble / attempts))
  }

  /** One hourly cycle. Untraced it calls the four public `Pipeline`
    * stages. Traced it makes the same layer calls those stages make
    * (parquet lake), one span per call, so each layer gets its own time.
    */
  def cycle(spark: SparkSession, conf: Pipeline.Config, ts: java.sql.Timestamp,
            jsons: Seq[String], tr: Tracer, op: Int): Unit =
    if (!tr.enabled) {
      Pipeline.extractBatch(spark, jsons, ts, conf)
      val tables = Pipeline.loadWarehouse(spark, conf)
      Pipeline.transform(spark, Pipeline.registerStaging(spark, tables), conf)
    } else {
      val raw = tr.span("ingest.extract", op)(Ingest.extract(spark, jsons, ts))
      tr.span("lake.append", op)(Lake.appendBatch(raw, conf.lakePath))
      val channels = tr.span("lake.channels", op)(Lake.channels(spark, conf.lakePath))
      val tables = tr.span("warehouse.load", op) {
        spark.sql(s"CREATE DATABASE IF NOT EXISTS ${conf.database}")
        channels.map { ch =>
          val table = s"${conf.database}.${Ingest.rawTableName(ch)}"
          Warehouse.loadRaw(Lake.readChannel(spark, conf.lakePath, ch).drop("channel_key"), table)
          table
        }
      }
      val views = tr.span("pipeline.staging", op)(Pipeline.registerStaging(spark, tables))
      tr.span("mart.build", op)(Pipeline.transform(spark, views, conf))
    }

  /** Files and bytes the pipeline left in the lake, RAW tables and mart. */
  def pipelineStats(spark: SparkSession, conf: Pipeline.Config): Map[String, Double] = {
    val wh = s"${spark.conf.get("spark.sql.warehouse.dir")}/${conf.database}.db"
    val hconf = spark.sparkContext.hadoopConfiguration
    def data(root: String) = listFiles(spark, root).filter { p =>
      val n = new HPath(p).getName
      !n.startsWith(".") && !n.startsWith("_")
    }
    val lake = data(conf.lakePath)
    val (mart, raw) = data(wh).partition(_.contains(s"/${Pipeline.martTable}/"))
    Map(
      "lake.files" -> lake.size.toDouble,
      "lake.bytes" -> lake.map(p => new HPath(p).getFileSystem(hconf)
        .getFileStatus(new HPath(p)).getLen).sum.toDouble,
      "warehouse.files" -> raw.size.toDouble,
      "mart.files" -> mart.size.toDouble,
      "mart.rows" -> spark.table(s"${conf.database}.${Pipeline.martTable}").count().toDouble)
  }

  // ---------------------------------------------------------------- report

  /** Layers ranked by their share of the traced run time, and whether the
    * self times add up to it.
    */
  def report(tr: Tracer, o: Outcome): Unit = {
    val m = tr.layerMetrics(Layers, 1, 1)
    val total = o.units.sum
    val selfs = Layers.map(l => l -> m(s"$l.self_s")).sortBy(-_._2)
    println(f"traced run_s total $total%.3f s over ${o.units.size} units; layer self times:")
    selfs.foreach { case (l, s) => println(f"  $l%-10s $s%9.3f s  ${100 * s / total}%5.1f%%") }
    val sum = selfs.map(_._2).sum
    println(f"  sum        $sum%9.3f s  ${100 * sum / total}%5.1f%% of run_s " +
      (if (math.abs(sum - total) <= 0.1 * total) "(within 10%)" else "(NOT within 10%)"))
  }

  // ---------------------------------------------------------------- helpers

  /** Peak live driver heap: heap in use after a full collection, taken
    * at the end of every unit (outside the timed region), so it reads the
    * state a unit leaves behind, not the garbage between collections.
    */
  object Heap {
    private var peak = 0L
    def sample(spark: SparkSession): Unit = {
      // A trivial query displaces the last operation's execution state,
      // so the reading does not depend on which operation ran last; the
      // second collection frees what Spark's cleaner released after the
      // first (unreferenced broadcasts and shuffles).
      spark.range(1).count()
      System.gc()
      Thread.sleep(100)
      System.gc()
      peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    }
    def peakMb: Double = peak / (1024.0 * 1024.0)
  }

  def listFiles(spark: SparkSession, root: String): Seq[String] = {
    val p = new HPath(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else {
      val it = fs.listFiles(p, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath.toString).toSeq
    }
  }

  def delete(spark: SparkSession, path: String): Unit = {
    val p = new HPath(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }

  /** Runs `unit` (which returns its operations' latencies) until
    * `seconds` are covered to within half a unit. When more than one unit
    * runs, the first is a warm-up: it is dropped and the tracer restarts,
    * because a fresh JVM is still compiling during it. Returns the kept
    * unit latencies and operation latencies.
    */
  def measure(seconds: Double, tr: Tracer)(unit: => Seq[Double]): (Seq[Double], Seq[Double]) = {
    val runs = ArrayBuffer.empty[Seq[Double]]
    def covered = runs.map(_.sum).sum + runs.last.sum / 2
    while (runs.isEmpty || covered < seconds) {
      if (runs.size == 1) tr.reset()
      runs += unit
    }
    val kept = if (runs.size > 1) runs.tail.toSeq else runs.toSeq
    (kept.map(_.sum), kept.flatten)
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
