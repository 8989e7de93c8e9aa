package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType

import graft.ops.{Compaction, Nio}

/** Small-file compaction mechanics (ops/Compaction): data identity,
  * bin-pack arithmetic, incrementality, idempotence, and that the
  * compacted layout still serves partition-pruned scans. The declared
  * q116 oracles the data identity cross-engine; these tests pin the
  * file-level behavior the oracle can't see.
  */
class CompactionSpec extends SparkSpec {

  private def freshFragmented(filesPerDay: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("compact_t").toString
    Tables.events(spark, sf)
      .withColumn("day", date_add(lit("1970-01-01").cast("date"),
        graft.ops.Scalars.longDiv("ts", 86400000000000L).cast("int")))
      .repartition(filesPerDay)
      .write.mode("overwrite").partitionBy("day").parquet(dir)
    dir
  }

  private def rowsOf(dir: Path): Seq[String] =
    spark.read.parquet(dir.toString).collect().map(_.toString).toSeq.sorted

  test("compaction preserves the exact row multiset and bin-packs " +
    "every fragmented partition; re-run is a no-op") {
    val dir = freshFragmented(8)
    val before = spark.read.parquet(dir)
      .orderBy("event_id", "day").collect().toSeq
    val pre = Compaction.stats(dir)
    // repartition(8) writes *up to* 8 files per day (empty splits are
    // skipped) — fragmentation is what matters, not the exact count
    assert(pre.nonEmpty && pre.forall(_.files >= 2))

    // generous target: every partition packs to ONE file
    val r = Compaction.compact(spark, dir, 64L * 1024 * 1024)
    assert(r.partitionsSeen == pre.size)
    assert(r.partitionsRewritten == pre.size)
    assert(r.filesBefore == pre.map(_.files).sum)
    assert(r.filesAfter == pre.size)
    assert(Compaction.stats(dir).forall(_.files == 1))

    val after = spark.read.parquet(dir)
      .orderBy("event_id", "day").collect().toSeq
    assert(after == before, "compaction changed the data")

    // idempotent: nothing left to do
    val r2 = Compaction.compact(spark, dir, 64L * 1024 * 1024)
    assert(r2.partitionsRewritten == 0)
    assert(r2.filesAfter == r.filesAfter)
  }

  test("compaction is incremental: already-packed partitions are " +
    "untouched (their files keep their identity)") {
    val dir = freshFragmented(8)
    // pack everything once...
    Compaction.compact(spark, dir, 64L * 1024 * 1024)
    val packedFiles = Compaction.stats(dir)
      .map(st => st.dir.getFileName.toString ->
        java.nio.file.Files.list(st.dir).iterator().next().toString).toMap
    // ...then fragment ONE partition the way a day of micro-batches would
    val one = Compaction.stats(dir).head.dir
    val rows = spark.read.parquet(one.toString)
    val tmp = java.nio.file.Files.createTempDirectory("refrag")
    rows.repartition(6).write.mode("overwrite").parquet(tmp.toString)
    one.toFile.listFiles().foreach(_.delete())
    tmp.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => java.nio.file.Files.move(f.toPath, one.resolve(f.getName)))

    val r = Compaction.compact(spark, dir, 64L * 1024 * 1024)
    assert(r.partitionsRewritten == 1, s"expected only the refragged day: $r")
    Compaction.stats(dir).filterNot(_.dir == one).foreach { st =>
      val f = java.nio.file.Files.list(st.dir).iterator().next().toString
      assert(f == packedFiles(st.dir.getFileName.toString),
        "an untouched partition was rewritten")
    }
  }

  test("target-size arithmetic: a partition larger than target splits " +
    "into ceil(bytes/target) files, never one mega-file") {
    val dir = freshFragmented(8)
    val st = Compaction.stats(dir).head
    // pick a target that forces >=2 files for this partition
    val target = math.max(1L, st.bytes / 3)
    val expected = ((st.bytes + target - 1) / target).toInt
    assert(expected >= 2)
    Compaction.compact(spark, dir, target)
    val after = Compaction.stats(dir)
      .find(_.dir.getFileName == st.dir.getFileName).get
    assert(after.files == expected,
      s"expected $expected files, got ${after.files}")
  }

  test("the compacted layout still serves planning-time partition " +
    "pruning (day dirs survive the swap)") {
    val path = Compaction.compactedEventsPath(spark, sf)
    val q = spark.read.parquet(path)
      .filter(col("day") === lit("2024-01-08").cast("date"))
      .groupBy("day").agg(count(lit(1)).as("n"))
    val scan = q.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).find(_.contains("PartitionFilters")).get
    assert(scan.contains("PartitionFilters: [") &&
      scan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)].*", "$1")
        .contains("day"),
      s"no day partition filter on the compacted scan:\n$scan")
    assert(q.collect().head.getLong(1) > 0)
  }

  test("a swap sibling is hidden: a reader listing the table mid-rewrite " +
    "keeps its rows and types, and stats skips it") {
    val dir = freshFragmented(2)
    val table = spark.read.parquet(dir)
    val (rows, dayType) = (table.count(), table.schema("day").dataType)
    assert(dayType == DateType)
    val parts = Compaction.stats(dir)
    // a rewrite's temp sibling, caught between write and swap
    val one = parts.head.dir
    val tmp = Compaction.swapSibling(one, "tmp")
    Files.createDirectory(tmp)
    Nio.list(one).foreach(f => Files.copy(f, tmp.resolve(f.getFileName)))
    val seen = spark.read.parquet(dir)
    assert(seen.count() == rows, "the sibling was read as a partition")
    assert(seen.schema("day").dataType == DateType)
    assert(Compaction.stats(dir) == parts)
  }

  test("a failed rewrite: compact throws, the failed partition is " +
    "unchanged, the others keep their rows and no sibling is visible") {
    val dir = freshFragmented(8)
    val parts = Compaction.stats(dir)
    assert(parts.size > spark.sparkContext.defaultParallelism)
    val before = parts.map(st => st.dir -> rowsOf(st.dir)).toMap
    val bad = parts.head.dir
    val victim = Nio.list(bad)
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.write(victim, "not a parquet file".getBytes)
    Files.deleteIfExists(bad.resolve(s".${victim.getFileName}.crc"))
    val badFiles = Nio.list(bad).toSet

    intercept[Exception](Compaction.compact(spark, dir, 64L * 1024 * 1024))
    assert(Nio.list(bad).toSet == badFiles, "the failed partition changed")
    parts.map(_.dir).filterNot(_ == bad).foreach { d =>
      assert(rowsOf(d) == before(d), s"$d lost or gained rows")
    }
    // the other partitions were rewritten, not skipped
    assert(Compaction.stats(dir).filterNot(_.dir == bad).forall(_.files == 1))
    val visible = Nio.list(Paths.get(dir)).filter(Files.isDirectory(_))
      .map(_.getFileName.toString).filterNot(_.startsWith("."))
    assert(visible.toSet == parts.map(_.dir.getFileName.toString).toSet)
  }

  test("re-run recovers an interrupted swap: a partition caught between " +
    "its two renames comes back, and no sibling is left") {
    val dir = freshFragmented(8)
    def contents = {
      val rows = rowsOf(Paths.get(dir))
      (rows.size, scala.util.hashing.MurmurHash3.seqHash(rows))
    }
    val original = contents
    val parts = Compaction.stats(dir).map(_.dir)
    assert(parts.size >= 3)
    def copyTo(from: Path, to: Path): Unit = {
      Files.createDirectory(to)
      Nio.list(from).foreach(f => Files.copy(f, to.resolve(f.getFileName)))
    }
    // crash between `dir → .old` and `.tmp → dir`: the partition is gone,
    // its files live on only in the hidden .old sibling
    val (cut, swapped, written) = (parts(0), parts(1), parts(2))
    copyTo(cut, Compaction.swapSibling(cut, "tmp"))
    Files.move(cut, Compaction.swapSibling(cut, "old"))
    // crash after the swap, before the old copy was deleted
    copyTo(swapped, Compaction.swapSibling(swapped, "old"))
    // crash after the write, before the first rename
    copyTo(written, Compaction.swapSibling(written, "tmp"))
    assert(contents._1 < original._1, "the planted crash hid no rows")

    Compaction.compact(spark, dir, 64L * 1024 * 1024)
    assert(contents == original, "rows lost or gained across the recovery")
    assert(Compaction.stats(dir).map(_.dir) == parts)
    val hidden = Nio.list(Paths.get(dir)).filter(Files.isDirectory(_))
      .map(_.getFileName.toString).filter(_.startsWith("."))
    assert(hidden.isEmpty, s"siblings left behind: $hidden")
  }
}
