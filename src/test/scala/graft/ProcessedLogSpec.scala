package graft

import java.nio.file.{Files, Path}

import graft.ops.{Compaction, Nio, ProcessedLog}
import graft.pipelines.RankingsPipelines.bulkIngest

/** Batch idempotency (T4 analog): unprocessed-unit selection via anti-join
  * against the processed log, re-run safety, incremental arrival, and
  * exactly-once ingest through the overwrite-by-unit append.
  */
class ProcessedLogSpec extends SparkSpec {
  import spark.implicits._

  test("pending → mark → pending cycle is exactly-once over work units") {
    val log = java.nio.file.Files.createTempDirectory("plog").toString + "/log"
    val keys = Seq("locale_page", "chunk")
    val units1 = Seq(("en-us/1", 0), ("en-us/1", 1), ("en-us/2", 0))
      .toDF("locale_page", "chunk")

    // empty log → everything pending
    val p1 = ProcessedLog.pending(units1, log, keys)
    assert(p1.count() == 3)

    // process + mark two of them
    ProcessedLog.mark(p1.filter($"chunk" === 0), log, keys)
    val p2 = ProcessedLog.pending(units1, log, keys)
    assert(p2.collect().map(r => (r.getString(0), r.getInt(1))).toSet ==
      Set(("en-us/1", 1)))

    // re-run with the same inputs → already-marked units stay excluded
    ProcessedLog.mark(p2, log, keys)
    assert(ProcessedLog.pending(units1, log, keys).count() == 0)

    // new unit arrives → only it is pending (resume semantics)
    val units2 = units1.union(Seq(("en-ca/1", 0)).toDF("locale_page", "chunk"))
    val p3 = ProcessedLog.pending(units2, log, keys).collect()
    assert(p3.map(r => (r.getString(0), r.getInt(1))).toSeq ==
      Seq(("en-ca/1", 0)))

    // double-marking is harmless
    ProcessedLog.mark(units2, log, keys)
    ProcessedLog.mark(units2, log, keys)
    assert(ProcessedLog.pending(units2, log, keys).count() == 0)
  }

  test("a gate on a non-empty log runs two jobs: the log's broadcast and " +
    "the action (no schema inference, no dedup shuffle)") {
    val log = java.nio.file.Files.createTempDirectory("plog").toString + "/log"
    val keys = Seq("locale_page", "chunk")
    ProcessedLog.mark(Seq(("en-us/1", 0)).toDF("locale_page", "chunk"),
      log, keys)
    val units = Seq(("en-us/1", 0), ("en-us/1", 1)).toDF("locale_page", "chunk")
    var open = false
    assert(jobsAndStagesOf {
      open = !ProcessedLog.pending(units, log, keys).isEmpty
    }._1 == 2)
    assert(open)
  }

  test("mark is one job of one stage: an append with no dedup shuffle") {
    val log = java.nio.file.Files.createTempDirectory("plog").toString + "/log"
    val keys = Seq("locale_page", "chunk")
    val units = Seq(("en-us/1", 0), ("en-us/1", 0), ("en-us/2", 1))
      .toDF("locale_page", "chunk")
    assert(jobsAndStagesOf(ProcessedLog.mark(units, log, keys)) == (1, 1))
    assert(ProcessedLog.pending(units, log, keys).count() == 0)
  }

  /** Two chunks of CSV shards, `c<chunk>-<n>.csv`, each spanning three
    * dates; the glob of one chunk.
    */
  private def chunkedCsv(): (Path, Int => String) = {
    val dir = Files.createTempDirectory("chunks")
    for (ch <- 0 to 1; n <- 0 to 1) {
      val rows = (1 to 3).map(d => s"c$ch$n.com,2023-01-0$d,t$n," +
        s"https://c$ch$n.com/$d,${d + n},${10 * d},0.$ch$n")
      Files.write(dir.resolve(s"c$ch-$n.csv"),
        ("domain,date,term,url,rank,volume,cpc" +: rows).mkString("\n")
          .getBytes)
    }
    (dir, ch => dir.resolve(s"c$ch-*.csv").toString)
  }

  test("a crash between a chunk's append and its mark: the re-run gate " +
    "loop ingests the chunk again and the table holds each row once") {
    val (csv, glob) = chunkedCsv()
    val work = Files.createTempDirectory("ingest")
    val (table, log) = (work.resolve("table").toString,
      work.resolve("log").toString)
    bulkIngest(spark, glob(0), table) // the crash: chunk 0 is never marked
    // the gate loop of the rankings pipeline: pending → ingest → mark
    (0 to 1).foreach { ch =>
      val unit = Seq(ch).toDF("chunk")
      if (!ProcessedLog.pending(unit, log, Seq("chunk")).isEmpty) {
        bulkIngest(spark, glob(ch), table)
        ProcessedLog.mark(unit, log, Seq("chunk"))
      }
    }
    assert(ProcessedLog.pending(Seq(0, 1).toDF("chunk"), log, Seq("chunk"))
      .isEmpty)
    assertTableRows(table, Tables.readRankingsCsv(spark, csv.toString))
  }

  test("a crash inside the append: readers never list the stale staging " +
    "sibling, and the unit's re-run leaves exactly the clean rows") {
    val (csv, glob) = chunkedCsv()
    val table = Files.createTempDirectory("ingest").resolve("table")
    def parquetFiles =
      Nio.walk(table).filter(_.getFileName.toString.endsWith(".parquet"))
    bulkIngest(spark, glob(0), table.toString)
    val files = parquetFiles
    val UnitPrefix = """(unit-[0-9a-f]{16}-).*""".r
    val prefixes = files.map(_.getFileName.toString).collect {
      case UnitPrefix(p) => p }.distinct
    assert(prefixes.size == 1 && files.size == 3,
      s"one unit-prefixed file per date expected: $files")
    val prefix = prefixes.head
    bulkIngest(spark, glob(1), table.toString)
    assert(parquetFiles.size == 6)
    val clean = spark.read.parquet(table.toString).count()
    // what a crash among the renames of chunk 0's re-run leaves: the staged
    // files in a hidden sibling, one of them already renamed into the table
    val stage = Compaction.swapSibling(table.resolve(prefix.init), "stage")
    files.foreach { f =>
      val d = stage.resolve(f.getParent.getFileName)
      Files.createDirectories(d)
      Files.copy(f, d.resolve(f.getFileName.toString.stripPrefix(prefix)))
    }
    files.drop(1).foreach(Files.delete)
    val seen = spark.read.parquet(table.toString)
    assert(seen.inputFiles.forall(!_.contains("/.")),
      "a reader listed the staging sibling")
    assert(seen.count() == clean - 4) // two of chunk 0's dates are missing

    bulkIngest(spark, glob(0), table.toString)
    assertTableRows(table.toString,
      Tables.readRankingsCsv(spark, csv.toString))
    assert(!Nio.walk(table).exists(_.getFileName.toString.startsWith(".unit-")),
      "a staging sibling was left behind")
  }

  test("pending treats a log path that is a file, not a directory, as " +
    "an empty log") {
    val log = java.nio.file.Files.createTempFile("plog", ".txt").toString
    val units = Seq(("en-us/1", 0)).toDF("locale_page", "chunk")
    assert(ProcessedLog.pending(units, log, Seq("locale_page", "chunk"))
      .count() == 1)
  }
}
