package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.ListenerBus
import org.json4s.{DefaultFormats, Extraction}
import org.json4s.jackson.JsonMethods.{compact, render}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Benchmark harness: one JVM, one client, closed loop.
  *
  * Sets up a session (extensions, warm-up, shared fixtures on a fresh
  * scratch root), then runs the chosen queries of one workload in a seeded
  * order, each submitted only after the previous one completed. Every
  * query's output is fully materialised (a `noop` write) with an observed
  * row count and an order-independent row digest. Between queries the
  * harness stops stray streams, clears the cache, drains the listener bus
  * and restores the session conf. With `--trace 1` it records spans and
  * layer counters through Spark's public listener APIs.
  *
  * Usage: Harness --workload W --seed N --trace 0|1 --sf DIR --scratch DIR
  *   --out FILE [--queries a,b,c] [--spans FILE]
  *
  * Writes one JSON object to --out; perfbench/run.py checks the outputs and
  * prints the metrics.
  */
object Harness {

  final case class Config(workload: String, seed: Long, trace: Boolean,
      sfDir: String, scratch: File, out: File,
      queries: Option[Seq[String]], spans: Option[File])

  final case class Result(name: String, module: String, latencyMs: Double,
      buildMs: Double, rows: Long, digest: String, error: String,
      confLeaks: Int)

  private def parse(args: Array[String]): Config = {
    val kv = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Config(need("workload"), need("seed").toLong, need("trace") == "1",
      need("sf"), new File(need("scratch")), new File(need("out")),
      kv.get("queries").map(_.split(",").toSeq.filter(_.nonEmpty)),
      kv.get("spans").map(new File(_)))
  }

  /** Task slots and shuffle partitions: every processor of the machine. */
  private val Cpus = Runtime.getRuntime.availableProcessors

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    val members = Workloads.of(cfg.workload)
    val chosen = cfg.queries match {
      case None => members
      case Some(ns) => ns.map(n => members.find(_.query.name == n)
        .getOrElse(sys.error(s"$n is not a ${cfg.workload} query")))
    }

    // set-up counts from JVM start: what every cold invocation pays
    val spark = setUp(cfg)
    val setupS = (Clock.nowUs -
      ManagementFactory.getRuntimeMXBean.getStartTime * 1000L) / 1e6

    val rec = if (cfg.trace) Some(new Recorder) else None
    rec.foreach { r =>
      spark.sparkContext.addSparkListener(r.sparkListener)
      spark.listenerManager.register(r.queryListener)
      spark.streams.addListener(r.streamListener)
    }
    ListenerBus.drain(spark.sparkContext)

    val order = new scala.util.Random(cfg.seed)
      .shuffle(chosen.sortBy(_.query.name))
    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcBeans.map(_.getCollectionTime).sum.toDouble
    val files0 = countFiles(cfg.scratch)
    val cpu0 = osBean.getProcessCpuTime
    val gc0 = gcMs
    val passStart = Clock.nowUs

    val results = order.zipWithIndex.map { case (m, i) =>
      val name = m.query.name
      rec.foreach(_.current.set(name))
      val conf0 = spark.conf.getAll
      val q0 = Clock.nowUs
      var b1 = -1L
      var rows = -1L
      var digest = ""
      var error = ""
      try {
        val df = m.query.fn(spark, cfg.sfDir)
        b1 = Clock.nowUs
        val (r, d) = materialize(df)
        rows = r
        digest = d
      } catch {
        case e: Throwable =>
          if (b1 < 0) b1 = Clock.nowUs
          error = s"${e.getClass.getSimpleName}: ${
            Option(e.getMessage).getOrElse("").linesIterator.nextOption()
              .getOrElse("").take(300)}"
      }
      val q1 = Clock.nowUs
      val leaks = isolate(spark, conf0)
      val i1 = Clock.nowUs
      rec.foreach { r =>
        r.span(name, "query", "driver", 1, q0, q1)
        r.span(name, "build", "operators", 2, q0, b1)
        r.span(name, "materialize", "driver", 2, b1, q1)
        r.span(name, "isolate", "bench", 1, q1, i1)
      }
      System.err.println(f"perfbench: ${i + 1}/${order.size} $name " +
        f"${(q1 - q0) / 1000.0}%.0f ms $rows rows $error")
      Result(name, m.module, (q1 - q0) / 1000.0, (b1 - q0) / 1000.0, rows,
        digest, error, leaks)
    }

    val passEnd = Clock.nowUs
    val wallS = (passEnd - passStart) / 1e6
    val cpuS = (osBean.getProcessCpuTime - cpu0) / 1e9
    val driverGcMs = gcMs - gc0
    val filesWritten = countFiles(cfg.scratch) - files0
    rec.foreach(_.current.set(""))

    val latencies = results.map(_.latencyMs).sorted
    val endToEnd = Map(
      "setup_s" -> setupS,
      "wall_s" -> wallS,
      "query_p50_ms" -> median(latencies),
      "cpu_s" -> cpuS,
      "peak_rss_mb" -> peakRssMb)

    val perLayer = rec.map { r =>
      r.span("", "pass", "bench", 0, passStart, passEnd)
      layerMetrics(r, wallS, driverGcMs, filesWritten,
        results.map(_.confLeaks).sum)
    }.getOrElse(Map.empty)

    cfg.spans.zip(rec).foreach { case (f, r) =>
      writeJson(f, SpanTree.link(r.snapshot._1).map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "query_id" -> s.query,
        "name" -> s.name, "layer" -> s.layer, "start_us" -> s.startUs,
        "end_us" -> s.endUs)))
    }

    val oracle = graft.SparkEntry.oracleSql
    writeJson(cfg.out, Map(
      "workload" -> cfg.workload,
      "seed" -> cfg.seed,
      "trace" -> cfg.trace,
      "cpus" -> Cpus,
      "sf" -> cfg.sfDir,
      "end_to_end" -> endToEnd,
      "per_layer" -> perLayer,
      "queries" -> results.map(r => Map(
        "name" -> r.name, "module" -> r.module, "latency_ms" -> r.latencyMs,
        "build_ms" -> r.buildMs, "rows" -> r.rows, "digest" -> r.digest,
        "error" -> r.error, "conf_leaks" -> r.confLeaks,
        "oracle" -> oracle.getOrElse(r.name, "")))))
    spark.stop()
  }

  private def writeJson(f: File, value: Any): Unit =
    Files.writeString(f.toPath,
      compact(render(Extraction.decompose(value)(DefaultFormats))) + "\n")

  private def setUp(cfg: Config): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", new File(cfg.scratch, "local").getPath)
      .config("spark.sql.warehouse.dir",
        new File(cfg.scratch, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // one-time costs every workload pays before its first query: task
    // dispatch, the parquet reader and the lake catalog's write path
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"${cfg.sfDir}/region.parquet").count()
    val cat = "spark.sql.catalog.perfbench_warm"
    spark.conf.set(cat, classOf[graft.sources.GraftLakeCatalog].getName)
    spark.sql("CREATE TABLE perfbench_warm.t (k BIGINT)")
    spark.range(10).selectExpr("id AS k").writeTo("perfbench_warm.t").append()
    spark.sql("UPDATE perfbench_warm.t SET k = k + 1 WHERE k = 5")
    spark.read.option("graft.changes.from", "0")
      .option("graft.changes.to", "2").table("perfbench_warm.t").count()
    spark.sql("DROP TABLE perfbench_warm.t")
    spark.conf.unset(cat)
    // the chunked event and admission fixtures many of these workloads'
    // queries read are staged here, so no query's time depends on whether
    // it ran first
    cfg.workload match {
      case "stream_drain" =>
        graft.streaming.StreamingOps.chunkedEventsDir(spark, cfg.sfDir)
        graft.streaming.StreamingOps.chunkedEventsWithSentinelDir(spark,
          cfg.sfDir)
      case "llm_curation" =>
        graft.operators.Dedup.stagedAdmissionChunks(spark, cfg.sfDir)
      case _ => ()
    }
    spark
  }

  /** Materialise every column: a `noop` write observed for its row count
    * and the decimal sum of a 64-bit hash per row, which no row order or
    * partitioning changes. Columns are renamed by position first, so
    * duplicate output names cannot make the digest ambiguous. */
  private def materialize(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(j => s"c$j"): _*)
    val obs = Observation()
    val hashed = try named.observe(obs, count(lit(1)).as("rows"),
      sum(rowHash(named, asString = false)).as("digest"))
    catch {
      case _: org.apache.spark.sql.AnalysisException =>
        named.observe(obs, count(lit(1)).as("rows"),
          sum(rowHash(named, asString = true)).as("digest"))
    }
    hashed.write.format("noop").mode("overwrite").save()
    val m = obs.get
    (m("rows").asInstanceOf[Long], Option(m("digest")).fold("0")(_.toString))
  }

  private def rowHash(df: DataFrame, asString: Boolean): Column =
    if (df.columns.isEmpty) lit(BigDecimal(0)).cast("decimal(38,0)")
    else xxhash64(df.schema.fields.toSeq.map { f =>
      val c = col(f.name)
      if (asString) c.cast(StringType)
      else if (unhashable(f.dataType)) to_json(c)
      else c
    }: _*).cast("decimal(38,0)")

  private def unhashable(t: DataType): Boolean = t match {
    case _: MapType | _: VariantType => true
    case s: StructType => s.fields.exists(f => unhashable(f.dataType))
    case a: ArrayType => unhashable(a.elementType)
    case _ => false
  }

  /** Stop stray streams, drop cached data, drain the listener bus and put
    * back any session conf the query changed. Returns the conf keys the
    * query left changed. */
  private def isolate(spark: SparkSession, conf0: Map[String, String]): Int = {
    spark.streams.active.foreach { s =>
      try s.stop() catch { case _: Exception => () }
    }
    spark.catalog.clearCache()
    ListenerBus.drain(spark.sparkContext)
    val conf1 = spark.conf.getAll
    val changed = (conf0.keySet ++ conf1.keySet)
      .filter(k => conf0.get(k) != conf1.get(k))
    changed.foreach { k =>
      try conf0.get(k) match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      } catch { case _: Exception => () }
    }
    changed.size
  }

  private def layerMetrics(r: Recorder, wallS: Double,
      driverGcMs: Double, filesWritten: Long, confLeaks: Int)
      : Map[String, Double] = {
    val (raw, counters, batchMs) = r.snapshot
    val spans = SpanTree.link(raw)
    val byId = spans.map(s => s.id -> s).toMap
    def ofName(n: String) = spans.filter(_.name == n)
    def unionMs(ss: Seq[Span]) =
      Intervals.union(ss.map(s => (s.startUs, s.endUs))) / 1000.0
    def underBuild(s: Span): Boolean =
      Iterator.iterate(byId.get(s.parent))(_.flatMap(p => byId.get(p.parent)))
        .takeWhile(_.isDefined).flatten.exists(_.name == "build")
    val jobs = ofName("job")
    val jobMs = unionMs(jobs)
    val wallMs = wallS * 1000.0
    val planning = spans.filter(_.layer == "planning")
    val blocking = unionMs(ofName("build") ++ planning ++ jobs)
    val batches = counters.getOrElse("stream.batches", 0.0)
    val triggerMs = counters.getOrElse("stream.trigger_ms", 0.0)
    val self = SpanTree.selfMsByLayer(spans)
    val sortedBatches = batchMs.sorted
    val derived = Map(
      "operators.build_ms" -> ofName("build").map(_.durUs / 1000.0).sum,
      "operators.build_jobs" -> jobs.count(underBuild).toDouble,
      "sched.job_ms" -> jobMs,
      "exec.busy_ratio" -> (if (jobMs > 0)
        counters.getOrElse("exec.run_ms", 0.0) / (jobMs * Cpus) else 0.0),
      "sources.files_written" -> filesWritten.toDouble,
      "stream.useful_batch_ratio" -> (if (batches > 0)
        (batches - counters.getOrElse("stream.empty_batches", 0.0)) / batches
        else 0.0),
      "stream.batch_p50_ms" -> percentile(sortedBatches, 0.5),
      "stream.batch_p80_ms" -> percentile(sortedBatches, 0.8),
      "stream.rows_per_s" -> (if (triggerMs > 0)
        counters.getOrElse("stream.input_rows", 0.0) / (triggerMs / 1000.0)
        else 0.0),
      "stream.state_rows" -> r.stateRowsTotal.toDouble,
      "driver.gc_ms" -> driverGcMs,
      "driver.residual_ms" -> (wallMs - blocking),
      "driver.conf_leaks" -> confLeaks.toDouble,
      "bench.isolate_ms" -> ofName("isolate").map(_.durUs / 1000.0).sum,
      "trace.wall_s" -> wallS,
      "trace.span_coverage" -> unionMs(spans.filter(_.level == 1)) / wallMs)
    val selfTimes = Seq("operators", "planning", "sched", "stream", "driver",
      "bench").map(l => s"$l.self_ms" -> self.getOrElse(l, 0.0))
    Recorder.metricNames.map(n => n -> 0.0).toMap ++
      counters.filter { case (k, _) => Recorder.metricNames.contains(k) } ++
      derived ++ selfTimes
  }

  private def median(sorted: Seq[Double]): Double = percentile(sorted, 0.5)

  /** Linear-interpolated percentile of an ascending sequence (0 if empty). */
  private def percentile(sorted: Seq[Double], p: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val x = p * (sorted.size - 1)
      val lo = math.floor(x).toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (x - lo)
    }

  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  private def countFiles(dir: File): Long =
    if (!dir.exists) 0L
    else {
      val s = Files.walk(dir.toPath)
      try s.filter(p => Files.isRegularFile(p)).count() finally s.close()
    }
}
