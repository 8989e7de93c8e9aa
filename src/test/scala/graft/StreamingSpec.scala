package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.ops.{Compaction, StreamingIngest}

/** Streaming ingest semantics (SURVEY.md §2.10, §5 #5): AvailableNow over a
  * dir of CSV shards, checkpointed exactly-once across restarts, windowed
  * aggregation parity with the batch form.
  */
class StreamingSpec extends SparkSpec {

  private def writeShard(dir: String, name: String, rows: Seq[String]): Unit = {
    val header = "domain,date,term,url,rank,volume,cpc"
    Files.write(Paths.get(dir, name),
      (header +: rows).mkString("\n").getBytes)
  }

  private def mkTmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("T1/T4/T5: AvailableNow ingest is exactly-once across restart") {
    val in = mkTmp("shards")
    val out = mkTmp("ingested")
    val ckpt = mkTmp("ckpt")
    writeShard(in, "shard1.csv", Seq(
      "foo.com,2023-01-01,term1,https://foo.com/a,1,100,0.5",
      "foo.com,2023-01-02,term2,https://foo.com/b,2,200,1.5"))
    writeShard(in, "shard2.csv", Seq(
      "bar.com,2023-01-01,term3,https://bar.com/c,3,300,2.5"))

    val stream1 = StreamingIngest.csvStream(spark, Tables.rankingsV1Schema, in,
      maxFilesPerTrigger = 1)
    val q1 = StreamingIngest.ingestAvailableNow(stream1, out, ckpt)
    assert(q1.awaitTermination(60000),
      "stream did not finish in 60s")
    assert(spark.read.parquet(out).count() == 3)

    // restart with no new files → no duplicates (flag-store analog)
    val q2 = StreamingIngest.ingestAvailableNow(
      StreamingIngest.csvStream(spark, Tables.rankingsV1Schema, in, 1),
      out, ckpt)
    assert(q2.awaitTermination(60000),
      "stream did not finish in 60s")
    assert(spark.read.parquet(out).count() == 3)

    // new shard arrives → only it is ingested (resume-from-offset)
    writeShard(in, "shard3.csv", Seq(
      "baz.com,2023-01-03,term4,https://baz.com/d,4,400,3.5"))
    val q3 = StreamingIngest.ingestAvailableNow(
      StreamingIngest.csvStream(spark, Tables.rankingsV1Schema, in, 1),
      out, ckpt)
    assert(q3.awaitTermination(60000),
      "stream did not finish in 60s")
    val rows = spark.read.parquet(out)
    assert(rows.count() == 4)
    assert(rows.filter(col("domain") === "baz.com").count() == 1)
  }

  test("T1-T5 at reference scale shape: 200 shards, mid-stream kill, " +
    "exactly-once (VERDICT r03 #6)") {
    // the reference ingests 2,137 CSV shards (`ingest.py:15`); this drives
    // the same shape — many small shards, bounded files-per-trigger — and
    // kills the query MID-STREAM, then restarts on the same checkpoint.
    // Exactly-once = the committed output is multiset-equal to the source
    // (no loss, no dupes). Orphan files from the kill lie in a hidden
    // staging sibling that no reader lists, and the restart's replay of
    // the killed batch replaces whatever of it reached the table.
    val in = mkTmp("shards200")
    val out = mkTmp("ingested200")
    val ckpt = mkTmp("ckpt200")
    val src = graft.sources.SeededGenerator.rankings(spark, 4000, seed = 7L)
    val rows = src.collect()
    def fmt(r: org.apache.spark.sql.Row): String = Seq(
      r.getString(0), r.getDate(1).toString, r.getString(2), r.getString(3),
      r.getInt(4).toString, r.getLong(5).toString,
      r.getDouble(6).toString).mkString(",")
    rows.grouped(20).zipWithIndex.foreach { case (g, i) =>
      writeShard(in, f"shard$i%03d.csv", g.map(fmt).toSeq)
    }
    def stream() = StreamingIngest.csvStream(
      spark, Tables.rankingsV1Schema, in, maxFilesPerTrigger = 5)
    def committed(): Long =
      try spark.read.parquet(out).count() catch { case _: Throwable => 0L }

    // run 1: 40 micro-batches pending; kill once >= ~5 batches committed
    val q1 = StreamingIngest.ingestAvailableNow(stream(), out, ckpt)
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    while (q1.isActive && committed() < 500 && System.nanoTime() < deadline)
      Thread.sleep(50)
    q1.stop()
    val mid = committed()
    assert(mid > 0, "kill landed before any batch committed")
    assert(mid < 4000, "stream finished before the kill - raise shard count")

    // run 2: restart from the checkpoint, drain the rest
    val q2 = StreamingIngest.ingestAvailableNow(stream(), out, ckpt)
    assert(q2.awaitTermination(180000),
      "stream did not finish in 180s")
    val got = spark.read.parquet(out)
    assert(got.count() == 4000, s"expected 4000 rows, got ${got.count()}")
    assert(got.exceptAll(src).isEmpty && src.exceptAll(got).isEmpty,
      "committed output is not multiset-equal to the source")
  }

  /** Six two-row shards over three dates: three micro-batches of four
    * rows at two files per trigger.
    */
  private def sixShards(): String = {
    val in = mkTmp("shards6")
    (0 until 6).foreach { i =>
      writeShard(in, s"s$i.csv", Seq(
        s"d$i.com,2023-01-0${1 + i % 3},t$i,https://d$i.com/a,${i + 1},${10 * i},0.5",
        s"e$i.com,2023-01-0${1 + (i + 1) % 3},t$i,https://e$i.com/b,${i + 2},${20 * i},1.5"))
    }
    in
  }

  /** AvailableNow into `out` partitioned by date; the ids of the batches
    * that read rows.
    */
  private def ingestByDate(in: String, out: String, ckpt: String): Seq[Long] = {
    val q = StreamingIngest.ingestAvailableNow(
      StreamingIngest.csvStream(spark, Tables.rankingsV1Schema, in, 2),
      out, ckpt, Seq("date"))
    assert(q.awaitTermination(60000), "stream did not finish in 60s")
    q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSeq
  }

  test("T4: Spark's replay of an uncommitted micro-batch overwrites that " +
    "batch's rows: the table still equals the source") {
    val in = sixShards()
    val (out, ckpt) = (mkTmp("replayed"), mkTmp("ckpt_replay"))
    assert(ingestByDate(in, out, ckpt) == Seq(0L, 1L, 2L))
    assertTableRows(out, Tables.readRankingsCsv(spark, in))
    // a crash after the last batch's rows were written, before its commit
    val commits = Paths.get(ckpt, "commits")
    Files.delete(commits.resolve("2"))
    Files.deleteIfExists(commits.resolve(".2.crc"))
    assert(ingestByDate(in, out, ckpt) == Seq(2L),
      "the restart did not replay the uncommitted batch")
    assertTableRows(out, Tables.readRankingsCsv(spark, in))
  }

  test("T4: the stream table compacts like the bulk table: rows kept, and " +
    "a restart afterwards ingests nothing") {
    val in = sixShards()
    val (out, ckpt) = (mkTmp("compacted"), mkTmp("ckpt_compact"))
    assert(ingestByDate(in, out, ckpt) == Seq(0L, 1L, 2L))
    assert(Compaction.stats(out).exists(_.files > 1))
    val r = Compaction.compact(spark, out, 64L * 1024 * 1024)
    assert(r.partitionsRewritten > 0)
    assert(Compaction.stats(out).forall(_.files == 1))
    assertTableRows(out, Tables.readRankingsCsv(spark, in))
    assert(ingestByDate(in, out, ckpt).isEmpty)
    assertTableRows(out, Tables.readRankingsCsv(spark, in))
  }

  test("T7: foreachBatch skips empty batches and sees all rows once") {
    val in = mkTmp("shards2")
    val (out, ckpt) = (mkTmp("t7one"), mkTmp("ckpt2"))
    writeShard(in, "s1.csv", Seq(
      "foo.com,2023-01-01,t,https://foo.com/a,1,100,0.5"))
    val q = StreamingIngest.ingestAvailableNow(
      StreamingIngest.csvStream(spark, Tables.rankingsV1Schema, in, 10),
      out, ckpt)
    assert(q.awaitTermination(60000),
      "stream did not finish in 60s")
    assert(q.recentProgress.map(_.numInputRows).toSeq == Seq(1L))
    assertTableRows(out, Tables.readRankingsCsv(spark, in))
  }

  test("T7: an empty micro-batch adds no data file, and numInputRows sums " +
    "to the rows ingested") {
    def dataFiles(dir: String): Int = Files.walk(Paths.get(dir)).toArray
      .count(_.toString.endsWith(".parquet"))
    Seq(Seq.empty[String], Seq("date")).foreach { parts =>
      val in = sixShards()
      val (out, ckpt) = (mkTmp("t7out"), mkTmp("t7ckpt"))
      def run() = {
        val q = StreamingIngest.ingestAvailableNow(
          StreamingIngest.csvStream(spark, Tables.rankingsV1Schema, in, 2),
          out, ckpt, parts)
        assert(q.awaitTermination(60000), "stream did not finish in 60s")
        q.recentProgress.toSeq
      }
      val full = run()
      val files = dataFiles(out)
      assert(files > 0)
      writeShard(in, "s6.csv", Seq.empty) // a header-only shard
      val empty = run()
      assert(empty.map(_.batchId) == Seq(3L) && empty.head.numInputRows == 0,
        s"the header-only shard did not run as one empty batch ($parts)")
      assert(dataFiles(out) == files,
        s"the empty batch added a data file ($parts)")
      val rows = (full ++ empty).map(_.numInputRows).sum
      assert(rows == 12L,
        s"numInputRows sums to $rows for 12 rows ingested ($parts)")
      assertTableRows(out, Tables.readRankingsCsv(spark, in))
    }
  }

  test("X39 twin: streaming context chunking matches the batch chunk set " +
    "(stateless narrow map — same plan, per-micro-batch)") {
    val in = mkTmp("docstream")
    val docs = Tables.documents(spark, sf)
    docs.repartition(3).write.mode("overwrite").parquet(in)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = QueriesCuration.contextChunks(stream)
      .writeStream.format("memory").queryName("chunk_twin")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000),
      "stream did not finish in 120s")
    val streamed = spark.table("chunk_twin")
      .orderBy("doc_id", "chunk_id").collect()
    val batch = QueriesCuration.contextChunks(
      spark.read.parquet(in)).orderBy("doc_id", "chunk_id").collect()
    assert(streamed.length == batch.length && batch.nonEmpty,
      s"row count drift: streamed ${streamed.length} vs batch ${batch.length}")
    assert(streamed.sameElements(batch),
      "streaming chunk rows diverge from the batch form")
  }

  test("X59 twin: complete-mode streaming drift cells equal the batch " +
    "cells — the TVD monitor folds incrementally over micro-batches") {
    val in = mkTmp("driftstream")
    val docs = Tables.documents(spark, sf)
    docs.repartition(3).write.mode("overwrite").parquet(in)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = QueriesCuration.lengthCells(stream)
      .writeStream.format("memory").queryName("drift_twin")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "stream did not finish in 120s")
    val streamed = QueriesCuration.driftFromCells(
      spark.table("drift_twin").localCheckpoint(true))
      .collect().map(_.toString).sorted
    val batch = Queries.byName("q148_drift_audit").build(spark, sf)
      .collect().map(_.toString).sorted
    assert(streamed.sameElements(batch),
      "streaming-folded drift audit diverges from the batch audit")
  }

  test("T21s twin: complete-mode streaming hourly cents equal the batch " +
    "agg — the gap-fill monitor folds incrementally over micro-batches") {
    val in = mkTmp("interpstream")
    val ev = Tables.events(spark, sf) // ts already normalized to epoch-ns
    ev.repartition(3).write.mode("overwrite").parquet(in)
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = QueriesTime.hourlyCents(stream)
      .writeStream.format("memory").queryName("interp_twin")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "stream did not finish in 120s")
    val streamed = QueriesTime.fillFromHourly(
      spark.table("interp_twin").localCheckpoint(true))
      .collect().map(_.toString)
    val batch = Queries.byName("q155_interpolate").build(spark, sf)
      .collect().map(_.toString)
    assert(streamed.nonEmpty && streamed.sameElements(batch),
      "streaming-folded gap fill diverges from the batch form")
  }

  test("T22s twin: complete-mode streaming daily counts equal the batch " +
    "agg — the spike monitor folds incrementally over micro-batches") {
    val in = mkTmp("spikestream")
    val ev = Tables.events(spark, sf) // ts already normalized to epoch-ns
    ev.repartition(3).write.mode("overwrite").parquet(in)
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = QueriesTime.dailyCounts(stream)
      .writeStream.format("memory").queryName("spike_twin")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "stream did not finish in 120s")
    val streamed = QueriesTime.spikeFromDaily(
      spark.table("spike_twin").localCheckpoint(true))
      .collect().map(_.toString)
    val batch = Queries.byName("q162_spike_gate").build(spark, sf)
      .collect().map(_.toString)
    assert(streamed.nonEmpty && streamed.sameElements(batch),
      "streaming-folded spike gate diverges from the batch form")
  }

  test("T31s twin: complete-mode streaming (type, day) counts equal the " +
    "batch agg — the weekday-seasonality gate folds incrementally") {
    val in = mkTmp("seasonstream")
    val ev = Tables.events(spark, sf) // ts already normalized to epoch-ns
    ev.repartition(3).write.mode("overwrite").parquet(in)
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = QueriesTime.typeDailyCounts(stream)
      .writeStream.format("memory").queryName("season_twin")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "stream did not finish in 120s")
    val streamed = QueriesTime.seasonalityFromDaily(
      spark.table("season_twin").localCheckpoint(true))
      .collect().map(_.toString)
    val batch = Queries.byName("q197_weekday_seasonality").build(spark, sf)
      .collect().map(_.toString)
    assert(streamed.nonEmpty && streamed.sameElements(batch),
      "streaming-folded weekday seasonality diverges from the batch form")
  }

  test("T24s twin: complete-mode streaming daily counts equal the batch " +
    "agg — the decay score folds incrementally over micro-batches") {
    val in = mkTmp("decaystream")
    val ev = Tables.events(spark, sf) // ts already normalized to epoch-ns
    ev.repartition(3).write.mode("overwrite").parquet(in)
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = QueriesTime.dailyCounts(stream)
      .writeStream.format("memory").queryName("decay_twin")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "stream did not finish in 120s")
    val streamed = QueriesTime.decayFromDaily(
      spark.table("decay_twin").localCheckpoint(true))
      .collect().map(_.toString)
    val batch = Queries.byName("q168_decay_score").build(spark, sf)
      .collect().map(_.toString)
    assert(streamed.nonEmpty && streamed.sameElements(batch),
      "streaming-folded decay score diverges from the batch form")
  }

  test("T33s twin: complete-mode streaming OHLC equals the batch agg — " +
    "min_by/max_by/min/max/sum/count all fold associatively") {
    val in = mkTmp("ohlcstream")
    val ev = Tables.events(spark, sf)
    ev.repartition(3).write.mode("overwrite").parquet(in)
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = QueriesTime.typeDayOhlc(stream)
      .writeStream.format("memory").queryName("ohlc_twin")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "stream did not finish in 120s")
    val streamed = spark.table("ohlc_twin")
      .orderBy("event_type", "day").collect().map(_.toString)
    val batch = Queries.byName("q204_ohlc_downsample").build(spark, sf)
      .collect().map(_.toString)
    assert(streamed.nonEmpty && streamed.sameElements(batch),
      "streaming-folded OHLC diverges from the batch form")
  }

  test("X93s twin: complete-mode streaming (source, hash) token counts " +
    "equal the batch agg — the drift monitor folds incrementally") {
    val in = mkTmp("driftstream")
    val docs = Tables.documents(spark, sf)
    docs.repartition(3).write.mode("overwrite").parquet(in)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = QueriesCuration.sourceTokenCounts(stream)
      .writeStream.format("memory").queryName("drift_twin")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "stream did not finish in 120s")
    val streamed = QueriesCuration.chi2FromCounts(
      spark.table("drift_twin").localCheckpoint(true))
      .collect().map(_.toString)
    val batch = Queries.byName("q207_chi2_drift").build(spark, sf)
      .collect().map(_.toString)
    assert(streamed.nonEmpty && streamed.sameElements(batch),
      "streaming-folded chi2 drift diverges from the batch form")
  }

  test("A24s twin: complete-mode streaming welch partials equal the " +
    "batch drift gate — the A/B monitor folds live over micro-batches") {
    val in = mkTmp("welchstream")
    val ev = Tables.events(spark, sf)
    ev.repartition(3).write.mode("overwrite").parquet(in)
    // the A/B boundary is deployment config — known before the stream
    // starts (q222's declared batch form derives it from min(day); a
    // live monitor pins the same calendar cut up front)
    val cut = ev.agg(org.apache.spark.sql.functions.min(
      graft.ops.Scalars.longDiv("ts", 86400000000000L)))
      .head().getLong(0) + 7
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val rows = stream.select(col("event_type"),
        graft.ops.Scalars.longDiv("ts", 86400000000000L).as("day"),
        graft.ops.Scalars.cents(col("value")).as("x"))
      .withColumn("grp",
        when(col("day") < lit(cut), lit(0)).otherwise(lit(1)))
    val q = graft.ops.Welch.partials(rows, Seq("event_type"), "grp", "x")
      .writeStream.format("memory").queryName("welch_twin")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "stream did not finish in 120s")
    val streamed = graft.ops.Welch.tTestFromPartials(
      spark.table("welch_twin").localCheckpoint(true), Seq("event_type"))
      .orderBy("event_type").collect().map(_.toString)
    val batch = Queries.byName("q222_welch_ttest").build(spark, sf)
      .collect().map(_.toString)
    assert(streamed.nonEmpty && streamed.sameElements(batch),
      "streaming-folded welch gate diverges from the batch form")
  }

  test("X97s twin: foreachBatch folds micro-batches into the maintained " +
    "aggregate state; the final table equals the from-scratch aggregation") {
    import graft.pipelines.AggPipeline
    val in = mkTmp("aggmvstream")
    val e = Tables.events(spark, sf)
    e.repartition(3).write.mode("overwrite").parquet(in)
    var st = AggPipeline.emptyState(spark)
    val q = spark.readStream.schema(e.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
      .writeStream
      .option("checkpointLocation", mkTmp("aggmvckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        st = AggPipeline.addBatch(st, df); ()
      }
      .start()
    assert(q.awaitTermination(120000), "stream did not finish in 120s")
    def canon(df: org.apache.spark.sql.DataFrame) = {
      val cols = df.columns.sorted.toIndexedSeq
      df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
    }
    val scratch = AggPipeline.merge(AggPipeline.dayPartials(e))
    assert(canon(st).nonEmpty && canon(st) == canon(scratch),
      "streamed agg state diverges from the from-scratch aggregation")
  }

  test("T8: streaming tumbling-window agg matches the batch date_trunc form") {
    import spark.implicits._
    val in = mkTmp("events_json")
    // three events across two hours, as JSON lines with epoch-second ts
    Files.write(Paths.get(in, "e.json"), Seq(
      """{"ts": 3600, "v": 1.0}""",
      """{"ts": 3700, "v": 2.0}""",
      """{"ts": 7300, "v": 4.0}""").mkString("\n").getBytes)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DoubleType)))
    val stream = spark.readStream.schema(schema).json(in)
      .withColumn("t", to_timestamp(col("ts")))
      .withWatermark("t", "1 hour")
      .groupBy(window(col("t"), "1 hour")).agg(sum("v").as("sv"))
      .select(col("window.start").cast("long").as("h"), col("sv"))
    val ckpt = mkTmp("ckpt3")
    val q = stream.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("win_agg")
      .outputMode("complete")
      .start()
    assert(q.awaitTermination(60000),
      "stream did not finish in 60s")
    val got = spark.table("win_agg").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got == Map(3600L -> 3.0, 7200L -> 4.0))
  }

  test("T8c: streaming hopping window matches q100's batch offset-explode " +
    "twin on the same rows") {
    import spark.implicits._
    val in = mkTmp("events_hop")
    Files.write(Paths.get(in, "e.json"), Seq(
      """{"ts": 3600, "v": 1.0}""",
      """{"ts": 3700, "v": 2.0}""",
      """{"ts": 7300, "v": 4.0}""").mkString("\n").getBytes)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DoubleType)))
    // streaming: the native sliding window — each event lands in
    // window/slide = 4 overlapping windows
    val stream = spark.readStream.schema(schema).json(in)
      .withColumn("t", to_timestamp(col("ts")))
      .withWatermark("t", "1 hour")
      .groupBy(window(col("t"), "1 hour", "15 minutes"))
      .agg(sum("v").as("sv"))
      .select(col("window.start").cast("long").as("w"), col("sv"))
    val q = stream.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", mkTmp("ckpt_hop"))
      .format("memory").queryName("hop_agg")
      .outputMode("complete")
      .start()
    assert(q.awaitTermination(60000),
      "stream did not finish in 60s")
    val streamed = spark.table("hop_agg").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    // batch: q100's offset-explode arithmetic (here in seconds) — the
    // claim under test is that the declared batch form IS the streaming
    // window(1h, 15m) semantics
    val batchMap = spark.read.schema(schema).json(in)
      .select(col("ts"), col("v"), explode(sequence(lit(0L), lit(3L))).as("j"))
      .select(((expr("ts DIV 900L") - col("j")) * 900L).as("w"), col("v"))
      .groupBy("w").agg(sum("v").as("sv"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(streamed == batchMap,
      s"streaming $streamed != batch offset-explode $batchMap")
    assert(streamed(3600L) == 3.0 && streamed(7200L) == 4.0)
  }

  test("T8d: dropDuplicatesWithinWatermark dedups across micro-batches") {
    val in = mkTmp("events_dup")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.LongType)))
    // duplicates deliberately split ACROSS shards: maxFilesPerTrigger=1
    // forces separate micro-batches, so the dedup must come from state,
    // not per-batch distinct
    Files.write(Paths.get(in, "a.json"), Seq(
      """{"id": 1, "ts": 1000}""",
      """{"id": 2, "ts": 1010}""").mkString("\n").getBytes)
    Files.write(Paths.get(in, "b.json"), Seq(
      """{"id": 1, "ts": 1020}""",
      """{"id": 3, "ts": 1030}""").mkString("\n").getBytes)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
      .withColumn("t", to_timestamp(col("ts")))
      .withWatermark("t", "1 hour")
      .dropDuplicatesWithinWatermark("id")
    val q = stream.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", mkTmp("ckpt_dup"))
      .format("memory").queryName("dedup_stream")
      .outputMode("append")
      .start()
    assert(q.awaitTermination(60000),
      "stream did not finish in 60s")
    val ids = spark.table("dedup_stream").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L),
      s"cross-batch duplicate survived or rows lost: $ids")
  }

  test("T8b: the checkpointed watermark drops late data across restarts") {
    val in = mkTmp("events_late")
    val ckpt = mkTmp("ckpt4")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DoubleType)))
    val out = mkTmp("late_out")
    // memory sink cannot recover a checkpoint; the file sink is also the
    // production shape (sealed windows append to partitioned storage)
    def run(): Map[Long, Double] = {
      val stream = spark.readStream.schema(schema).json(in)
        .withColumn("t", to_timestamp(col("ts")))
        .withWatermark("t", "10 seconds")
        .groupBy(window(col("t"), "100 seconds")).agg(sum("v").as("sv"))
        .select(col("window.start").cast("long").as("w"), col("sv"))
      val q = stream.writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .option("path", out)
        .format("parquet")
        .outputMode("append")
        .start()
      assert(q.awaitTermination(60000),
        "stream did not finish in 60s")
      spark.read.parquet(out).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toMap
    }
    // run 1 advances the watermark to 2000s - 10s = 1990 and seals the
    // [1000,1100) window; [2000,2100) stays open in state.
    Files.write(Paths.get(in, "a.json"), Seq(
      """{"ts": 1000, "v": 1.0}""",
      """{"ts": 2000, "v": 2.0}""").mkString("\n").getBytes)
    assert(run() == Map(1000L -> 1.0))
    // run 2 restarts from the checkpoint: its watermark (1990) must drop
    // the ts=500 straggler; ts=3000 reopens state and seals [2000,2100).
    Files.write(Paths.get(in, "b.json"), Seq(
      """{"ts": 500, "v": 100.0}""",
      """{"ts": 3000, "v": 4.0}""").mkString("\n").getBytes)
    val got2 = run()
    assert(got2 == Map(1000L -> 1.0, 2000L -> 2.0),
      s"late data leaked past the restored watermark: $got2")
  }
}
