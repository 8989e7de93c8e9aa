package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Queries
import graft.ops.{Compaction, ProcessedLog, StreamingIngest}
import graft.pipelines.RankingsPipelines
import graft.sources.SeededGenerator

/** Benchmark client: one JVM, one closed-loop client that waits for each
  * result before it sends the next request. It calls only public
  * functions of the program and times them from the outside.
  *
  * Usage: Harness <config.properties>. The config names the mode
  * (`queries` or `ingest`) and its inputs; the result is
  * written as JSON to `<out>/result.json`, and with `trace=1` the spans
  * to `<out>/spans.jsonl`.
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val conf = new java.util.Properties()
    val in = Files.newInputStream(Paths.get(args(0)))
    try conf.load(in) finally in.close()
    val c0 = conf.asScala.toMap
    val spark = session(c0)
    val c = c0 + ("session_setup_s" -> sessionSetupS().toString)
    val out = Paths.get(c("out"))
    Files.createDirectories(out)
    val result = c("mode") match {
      case "queries" => new QueryRun(spark, c).run()
      case "ingest"  => new IngestRun(spark, c).run()
    }
    Files.writeString(out.resolve("result.json"), result)
    spark.stop()
  }

  /** `graft.Bench`'s session, except the core count, plus the isolation
    * settings that keep every write inside the benchmark's work dir. */
  def session(c: Map[String, String]): SparkSession = {
    val cpus = c("cores")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.warehouse.dir", c("warehouse"))
      .config("spark.local.dir", c("local"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // graft.Bench's warm-up: one-time session costs are set-up, not query
    // latency.
    val w = org.apache.spark.sql.expressions.Window.orderBy("id")
    spark.range(0, 100000).toDF("id")
      .withColumn("g", pmod(col("id"), lit(7)))
      .withColumn("rn", row_number().over(w))
      .groupBy("g").agg(count(lit(1)), sum("rn"))
      .count()
    spark.range(0, 1000).toDF("id")
      .select(md5(col("id").cast("string")).as("h"))
      .filter(length(col("h")) > 0)
      .write.format("noop").mode("overwrite").save()
    spark
  }

  /** Seconds from JVM launch until the warmed session was ready. */
  def sessionSetupS(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def dump(df: DataFrame, dir: Path): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(dir.toString)

  /** A fixed integer loop: host speed, independent of the program. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 50000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
    }
    if (x == 42L) println("")
    (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def jmap(m: Iterable[(String, String)]): String = Json.obj(m.toSeq)
  def jseries(m: Iterable[(String, Seq[Double])]): String =
    jmap(m.map { case (k, v) => k -> Json.nums(v) })
}

/** Shared client loop: timed executions, sweeps, host witness, trace. */
abstract class Client(spark: SparkSession, c: Map[String, String]) {
  import Harness._
  val seed: Long = c("seed").toLong
  val seconds: Double = c("seconds").toDouble
  val traced: Boolean = c("trace") == "1"
  val cores: Int = c("cores").toInt
  val out: Path = Paths.get(c("out"))
  val tel = new Telemetry(spark, s"${c("workload")}-seed$seed")
  if (traced) tel.attach()

  var attempted = 0L
  val errors = mutable.LinkedHashMap.empty[String, String]
  val cold = mutable.LinkedHashMap.empty[String, Double]
  val steady = mutable.LinkedHashMap.empty[String, Vector[Double]]
  val steadyUntraced = mutable.LinkedHashMap.empty[String, Vector[Double]]
  val controls = mutable.LinkedHashMap.empty[String, Vector[Double]]
  var calibration = Vector.empty[Double]
  var sweeps = 0
  var tracedSweeps = 0

  def fail(what: String, e: Throwable): Unit =
    errors(what) = e.toString.take(300)

  /** One query execution: build the DataFrame, then run it to a noop
    * sink. Returns its wall seconds, or None if it failed. */
  def exec(name: String, phase: String)(build: => DataFrame): Option[Double] = {
    attempted += 1
    try {
      val (s, _) = tel.span(name, "query", phase) {
        val (b, df) = tel.span(name, "build", phase)(build)
        // the DataFrame is analysed as it is built; the write's own
        // planning phases reach the QueryExecutionListener
        df.queryExecution.tracker.phases.get("analysis")
          .foreach(p => b.acc.analysisMs += p.durationMs)
        tel.span(name, "write", phase)(noop(df))
      }
      Some(s.wallS)
    } catch { case e: Throwable => fail(s"$phase:$name", e); None }
  }

  /** Untimed output checks: write each result for the external compare.
    * They run after the measurement, so they run concurrently. */
  def checkAll(names: Seq[String], dir: Path)(build: String => DataFrame): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    try {
      val pending = names.map { q =>
        val task: java.util.concurrent.Callable[Unit] =
          () => dump(build(q), dir.resolve(q))
        q -> pool.submit(task)
      }
      pending.foreach { case (q, f) =>
        attempted += 1
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            fail(s"check:$q", e.getCause)
        }
      }
    } finally pool.shutdown()
  }

  def order(names: Seq[String], sweep: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + sweep).shuffle(names)

  /** Controls and the calibration loop, timed beside the workload. */
  def witness(record: Boolean): Unit = {
    val cs = c("controls").split(",").toSeq.filter(_.nonEmpty)
    val data = c("data")
    cs.foreach { q =>
      val t0 = System.nanoTime()
      try {
        noop(Queries.byName(q).build(spark, data))
        if (record) controls(q) = controls.getOrElse(q, Vector.empty) :+
          (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable => fail(s"control:$q", e) }
    }
    val cal = calibrate()
    if (record) calibration :+= cal
  }

  /** Steady sweeps until `seconds` have passed since `t0` (at least
    * `minSweeps`); the cold sweep before them is their warm-up, as
    * graft.Bench's warm-up sweep is. A traced run alternates traced and
    * untraced sweeps in pairs, so the tracing overhead is measured inside
    * the same run. */
  def steadySweeps(names: Seq[String], t0: Long, minSweeps: Int)
      (build: String => DataFrame): Unit = {
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (sweeps < minSweeps || elapsed < seconds) {
      sweeps += 1
      // traced, untraced, untraced, traced: the warm-up trend of the JIT
      // falls evenly on both halves of the overhead comparison
      val on = traced && sweeps % 4 <= 1
      if (traced) { if (on) tel.attach() else tel.detach() }
      if (on) tracedSweeps += 1
      order(names, sweeps).foreach { q =>
        exec(q, if (on) "steady" else "steady-untraced")(build(q)).foreach { t =>
          val tgt = if (on || !traced) steady else steadyUntraced
          tgt(q) = tgt.getOrElse(q, Vector.empty) :+ t
        }
      }
      witness(record = true)
    }
    if (traced) tel.detach()
  }

  def execSpans(phase: String): Seq[Span] =
    tel.spans.toSeq.filter(s => s.kind == "query" && s.phase == phase)

  def children(id: Long): Seq[Span] = tel.spans.toSeq.filter(_.parent == id)

  /** Layer metrics: steady ones per traced sweep, plus the cold sweep's
    * compile and planning cost and the tracing overhead. */
  def layers(extra: Seq[(String, Double)]): Seq[(String, Double)] = {
    val q = Telemetry.queryLayers(execSpans("steady"), children,
      tracedSweeps, cores)
    val coldSpans = execSpans("cold")
    val coldAcc = (coldSpans ++ coldSpans.flatMap(s => children(s.id))).map(_.acc)
    // `steady` holds the traced sweeps here, `steadyUntraced` the untraced.
    val tracedTotal = steady.values.map(v => median(v)).sum
    val untracedTotal = steadyUntraced.values.map(v => median(v)).sum
    q ++ Seq(
      "cold_codegen_compiles" -> coldAcc.map(_.compiles.toDouble).sum,
      "cold_codegen_compile_s" -> coldAcc.map(_.compileNs.toDouble).sum / 1e9,
      "cold_analysis_s" -> coldAcc.map(_.analysisMs).sum / 1e3,
      "cold_optimization_s" -> coldAcc.map(_.optimizationMs).sum / 1e3,
      "cold_planning_s" -> coldAcc.map(_.planningMs).sum / 1e3,
      "trace_overhead_s" -> (tracedTotal - untracedTotal)) ++ extra
  }

  def writeSpans(): Unit =
    if (traced) Files.write(out.resolve("spans.jsonl"), tel.spanJson.asJava)

  def common(layerJson: Seq[(String, Double)], more: Seq[(String, String)]): String =
    Json.obj(Seq(
      "attempted" -> attempted.toString,
      "errors" -> jmap(errors.map { case (k, v) => k -> Json.str(v) }),
      "cold" -> jmap(cold.map { case (k, v) => k -> Json.num(v) }),
      "steady" -> jseries(steady),
      "steady_untraced_in_traced_run" -> jseries(steadyUntraced),
      "controls" -> jseries(controls),
      "calibration_s" -> Json.nums(calibration),
      "sweeps" -> sweeps.toString,
      "traced_sweeps" -> tracedSweeps.toString,
      "session_setup_s" -> Json.num(c("session_setup_s").toDouble),
      "peak_rss_mb" -> Json.num(peakRssMb()),
      "layers" -> jmap(layerJson.map { case (k, v) => k -> Json.num(v) })
    ) ++ more)
}

/** A query workload: a cold sweep in this fresh JVM, then interleaved
  * steady sweeps, then the output dumps for the oracle. */
final class QueryRun(spark: SparkSession, c: Map[String, String])
    extends Client(spark, c) {
  import Harness._
  private val names = c("queries").split(",").toSeq
  private val data = c("data")
  private def build(q: String) = Queries.byName(q).build(spark, data)

  def run(): String = {
    val t0 = System.nanoTime()
    order(names, 0).foreach(q => exec(q, "cold")(build(q)).foreach(cold(q) = _))
    witness(record = false)
    steadySweeps(names, t0, c("min_sweeps").toInt)(build)
    val zeros = IngestRun.layerNames.map(_ -> 0.0)
    val lj = if (traced) layers(zeros) else Seq.empty
    writeSpans()
    val measuredS = (System.nanoTime() - t0) / 1e9
    val dumps = Paths.get(c("dumps"))
    checkAll(names, dumps)(build)
    val oracle = names.flatMap(q => Queries.byName(q).oracle.map(q -> _))
    Files.writeString(dumps.resolve("oracle_sql.json"),
      jmap(oracle.map { case (k, v) => k -> Json.str(v) }))
    common(lj, Seq("setup_s" -> c("session_setup_s"),
      "measured_s" -> Json.num(measuredS)))
  }
}

/** The paper's pipeline on rankings_v1: seeded CSV shards, chunked
  * resumable bulk ingest, AvailableNow streaming ingest, an idempotent
  * re-run of both, compaction of the bulk table, then read-back queries. */
final class IngestRun(spark: SparkSession, c: Map[String, String])
    extends Client(spark, c) {
  import Harness._
  private val work = Paths.get(c("work"))
  private val csvDir = work.resolve("csv")
  private val bulkDir = work.resolve("rankings_bulk")
  private val streamDir = work.resolve("rankings_stream")
  private val logDir = work.resolve("processed_log")
  private val ckptDir = work.resolve("stream_checkpoint")
  private val shards = c("shards").toInt
  private val chunks = c("chunks").toInt
  private val rows = c("rows").toLong
  private val days = c("days").toInt
  private val readBack: Seq[(String, String)] =
    c("readback").split(";;").toSeq.map { kv =>
      val Array(k, v) = kv.split("=", 2); k -> v
    }

  /** One timed write-path call, counted as an attempted operation. */
  private def op[T](name: String, kind: String, phase: String)(f: => T): (Span, T) = {
    attempted += 1
    tel.span(name, kind, phase)(f)
  }

  private def files(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Seq.empty
    else Files.walk(dir).iterator().asScala.toSeq
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))

  private def shardGlob(c0: Int): String = {
    val ids = (c0 until shards by chunks).map(i => f"$i%03d")
    csvDir.resolve(s"shard-{${ids.mkString(",")}}-*.csv").toString
  }

  /** Seeded CSV shards: rows and the shard split both follow the seed. */
  private def generate(): Long = {
    val tmp = work.resolve("gen")
    val gen = SeededGenerator.rankings(spark, rows, seed)
      .filter(col("date") > date_sub(to_date(lit("2023-03-15")), days))
    gen.withColumn("shard", pmod(xxhash64(gen.columns.map(col) :+ lit(seed): _*),
        lit(shards.toLong)))
      .repartition(col("shard"))
      .write.partitionBy("shard").option("header", "true").csv(tmp.toString)
    Files.createDirectories(csvDir)
    (0 until shards).foreach { s =>
      val d = tmp.resolve(s"shard=$s")
      if (Files.exists(d))
        Files.list(d).iterator().asScala.toSeq.sorted
          .filter(_.getFileName.toString.endsWith(".csv")).zipWithIndex
          .foreach { case (p, i) =>
            Files.move(p, csvDir.resolve(f"shard-$s%03d-$i%02d.csv"))
          }
    }
    graft.ops.Nio.deleteTree(tmp)
    spark.read.option("header", "true").csv(csvDir.toString).count()
  }

  /** Chunked bulk ingest, each chunk gated by the processed log. Returns
    * (rows ingested, pending s, ingest s, mark s). */
  private def bulk(phase: String): (Long, Double, Double, Double) = {
    import spark.implicits._
    var n = 0L
    var pend, ing, mark = 0.0
    (0 until chunks).foreach { ch =>
      val unit = Seq(ch).toDF("chunk")
      val (ps, todo) = op(s"pending-$ch", "pending", phase) {
        !ProcessedLog.pending(unit, logDir.toString, Seq("chunk")).isEmpty
      }
      pend += ps.wallS
      if (todo) {
        val (is, _) = op(s"bulkIngest-$ch", "ingest", phase) {
          RankingsPipelines.bulkIngest(spark, shardGlob(ch), bulkDir.toString)
        }
        ing += is.wallS
        n += graft.Tables.readRankingsCsv(spark, shardGlob(ch)).count()
        val (ms, _) = op(s"mark-$ch", "mark", phase) {
          ProcessedLog.mark(unit, logDir.toString, Seq("chunk"))
        }
        mark += ms.wallS
      }
    }
    (n, pend, ing, mark)
  }

  /** AvailableNow micro-batches into the stream table. Returns (rows, span). */
  private def stream(phase: String): (Long, Span) = {
    val (s, q) = op("ingestAvailableNow", "stream", phase) {
      val df = StreamingIngest.csvStream(spark, graft.Tables.rankingsV1Schema,
        csvDir.toString, c("files_per_trigger").toInt)
      val q = StreamingIngest.ingestAvailableNow(df, streamDir.toString,
        ckptDir.toString, Seq("date"))
      q.awaitTermination()
      q
    }
    (q.recentProgress.map(_.numInputRows).sum, s)
  }

  /** Order-independent content hash of a table. */
  private def tableHash(dir: Path): String = {
    val df = spark.read.parquet(dir.toString)
    val cols = graft.Tables.rankingsV1Schema.fieldNames.map(col).toSeq
    val r = df.select(count(lit(1)),
      sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${r.get(1)}"
  }

  def run(): String = {
    val (gs, generated) = tel.span("generate", "generate", "setup")(generate())
    val csvBytes = Files.list(csvDir).iterator().asScala.map(Files.size(_)).sum
    val t0 = System.nanoTime()
    // the pipeline's first pass in this fresh JVM
    val (bulkRows, pendS, ingS, markS) = bulk("cold")
    val (streamRows, streamSpan) = stream("cold")
    val outFiles = files(bulkDir) ++ files(streamDir)
    val outBytes = outFiles.map(Files.size(_)).sum
    val (rs, (rerunBulk, rerunStream)) = tel.span("rerun", "rerun", "cold") {
      (bulk("rerun")._1, stream("rerun")._1)
    }
    val hashBefore = tableHash(bulkDir)
    val before = Compaction.stats(bulkDir.toString)
    val target = c("target_bytes").toLong
    val rewrittenBytes = before.filter(st =>
      st.files > math.max(1L, (st.bytes + target - 1) / target)).map(_.bytes).sum
    val (cs, report) = op("compact", "compaction", "cold") {
      Compaction.compact(spark, bulkDir.toString, target)
    }
    val hashAfter = tableHash(bulkDir)
    val stored = (files(bulkDir) ++ files(streamDir)).map(Files.size(_)).sum
    spark.read.parquet(bulkDir.toString).createOrReplaceTempView("rankings_bulk")
    spark.read.parquet(streamDir.toString).createOrReplaceTempView("rankings_stream")
    val sql = readBack.toMap
    def build(q: String) = spark.sql(sql(q))
    val names = readBack.map(_._1)
    order(names, 0).foreach(q => exec(q, "cold")(build(q)).foreach(cold(q) = _))
    witness(record = false)
    steadySweeps(names, t0, c("min_sweeps").toInt)(build)
    val ingestLayers = Seq(
      "bulk_ingest_s" -> ingS, "pending_s" -> pendS, "mark_s" -> markS,
      "stream_batches" -> streamSpan.acc.batches.toDouble,
      "stream_batch_p50_s" -> Telemetry.batchP50S(streamSpan),
      "stream_add_batch_s" -> streamSpan.acc.addBatchMs / 1e3,
      "stream_wal_commit_s" -> streamSpan.acc.walCommitMs / 1e3,
      "rerun_rows" -> (rerunBulk + rerunStream).toDouble,
      "output_files" -> outFiles.size.toDouble,
      "output_bytes" -> outBytes.toDouble,
      "files_before_compaction" -> report.filesBefore.toDouble,
      "files_after_compaction" -> report.filesAfter.toDouble,
      "partitions_rewritten" -> report.partitionsRewritten.toDouble,
      "compaction_bytes_rewritten" -> rewrittenBytes.toDouble,
      "generate_s" -> gs.wallS,
      "ingest_rows_per_s" -> bulkRows / (pendS + ingS + markS),
      "stream_rows_per_s" -> streamRows / streamSpan.wallS,
      "compaction_s" -> cs.wallS,
      "stored_bytes_per_input_byte" -> stored.toDouble / (2.0 * csvBytes))
    val lj = if (traced) layers(ingestLayers) else Seq.empty
    writeSpans()
    val dumps = Paths.get(c("dumps"))
    checkAll(names, dumps)(build)
    val counts = Seq(bulkDir, streamDir).map(d => spark.read.parquet(d.toString).count())
    common(lj, Seq(
      "setup_s" -> Json.num(c("session_setup_s").toDouble + gs.wallS),
      "generated_rows" -> generated.toString,
      "csv_bytes" -> csvBytes.toString,
      "pipeline" -> Json.obj(Seq(
        "bulk_s" -> Json.num(pendS + ingS + markS),
        "stream_s" -> Json.num(streamSpan.wallS),
        "rerun_s" -> Json.num(rs.wallS),
        "compaction_s" -> Json.num(cs.wallS))),
      "ingest" -> jmap(ingestLayers.map { case (k, v) => k -> Json.num(v) }),
      "bulk_rows" -> bulkRows.toString,
      "stream_rows" -> streamRows.toString,
      "rerun_rows" -> (rerunBulk + rerunStream).toString,
      "table_rows" -> Json.arr(counts.map(_.toString)),
      "hash_before" -> Json.str(hashBefore),
      "hash_after" -> Json.str(hashAfter)))
  }
}

object IngestRun {
  val layerNames: Seq[String] = Seq("bulk_ingest_s", "pending_s", "mark_s",
    "stream_batches", "stream_batch_p50_s", "stream_add_batch_s",
    "stream_wal_commit_s", "rerun_rows", "output_files", "output_bytes",
    "files_before_compaction", "files_after_compaction",
    "partitions_rewritten", "compaction_bytes_rewritten", "generate_s",
    "ingest_rows_per_s", "stream_rows_per_s", "compaction_s",
    "stored_bytes_per_input_byte")
}
