package graft.ops

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{ExecutionException, Executors}

import scala.util.Try

import org.apache.spark.sql.SparkSession

/** Small-file compaction for Hive-partitioned parquet tables — the
  * maintenance job every continuously-ingested 100 TB table needs.
  *
  * Streaming ingest (ops/StreamingIngest) and per-batch sinks write a few
  * files per micro-batch per partition; after a week a hot partition holds
  * thousands of KB-sized files and scan cost is dominated by listing,
  * footer reads, and task startup rather than bytes. Compaction bin-packs
  * each partition back to ~`targetBytes` files. Bulk and stream ingest
  * write one layout through [[ProcessedLog.appendUnit]], so both rankings
  * tables are compactable; a table is compacted only while it has no
  * pending unit, since a compacted file belongs to no unit. Design
  * constraints that matter at scale:
  *
  *  - **Incremental**: only partitions with more files than their data
  *    needs are rewritten (a partition already at its packed file count is
  *    untouched), so steady-state cost tracks RECENT ingest, not table
  *    size — the same argument as DedupPipeline.addBatchBands.
  *  - **Idempotent**: re-running immediately after a compaction rewrites
  *    zero partitions ([[CompactionSpec]] pins this).
  *  - **Data-identical**: a rewrite is read-coalesce-write of the
  *    partition's own files; no shuffle, no ordering assumption, no
  *    filter. The declared q116 oracles the post-compaction table against
  *    the raw source in DuckDB.
  *  - **Concurrent**: the partitions that need a rewrite are rewritten
  *    side by side on a pool of `defaultParallelism` threads made per
  *    call. Each rewrite is a small job; run one after another they are
  *    bound by job dispatch while most cores sit idle.
  *  - **Swap, not in-place**: new files land in a sibling temp dir and
  *    replace the partition directory by rename, so a concurrent reader
  *    sees the old complete file set or the new one, never a mix. The
  *    old dir is kept out of the way until the swap completes. Both
  *    siblings have hidden (dot-prefixed) names, so a reader listing the
  *    table never takes them for partitions.
  *  - **Re-run is the recovery path** (as in [[Retention]]): `compact`
  *    first restores any partition an interrupted swap left only in its
  *    hidden `.old` sibling, and deletes every other sibling. (On a real
  *    lake this job is one OPTIMIZE on a transactional table format —
  *    Delta/Iceberg make the swap a metadata commit; this is the
  *    filesystem-layout equivalent for plain parquet dirs.)
  *
  * Listing is driver-side metadata work — the same cost class as Spark's
  * own InMemoryFileIndex for the identical directory tree; no data moves
  * through the driver.
  */
object Compaction {

  final case class PartitionStat(dir: Path, files: Int, bytes: Long)

  final case class Report(
      partitionsSeen: Int,
      partitionsRewritten: Int,
      filesBefore: Int,
      filesAfter: Int)

  private def dataFiles(dir: Path): Seq[Path] =
    Nio.list(dir)
      .filter(p => Files.isRegularFile(p))
      .filter(_.getFileName.toString.endsWith(".parquet"))

  /** A fresh swap sibling of partition `dir`: `.<name>.<kind>-<uuid>`. The
    * leading dot hides it from Spark's file index, as it hides
    * [[Retention]]'s tombstones, so a reader listing the table during a
    * rewrite (or after a crash in one) never reads it as a partition.
    */
  def swapSibling(dir: Path, kind: String): Path =
    dir.resolveSibling(
      s".${dir.getFileName}.$kind-${java.util.UUID.randomUUID}")

  /** Per-partition file stats for a one-level Hive-partitioned table
    * (`col=value/` leaf dirs under `tableDir`; hidden swap siblings are
    * not partitions).
    */
  def stats(tableDir: String): Seq[PartitionStat] =
    Nio.list(Paths.get(tableDir))
      .filter { p =>
        val n = p.getFileName.toString
        Files.isDirectory(p) && !n.startsWith(".") && n.contains("=")
      }
      .map { p =>
        val fs = dataFiles(p)
        PartitionStat(p, fs.size, fs.map(Files.size(_)).sum)
      }
      .sortBy(_.dir.toString)

  /** Bin-pack every partition of `tableDir` to ceil(bytes/targetBytes)
    * files; partitions already at-or-below that count are left untouched.
    * Up to `defaultParallelism` rewrites run at once. Every submitted
    * rewrite finishes before the first failure is rethrown, so none is
    * still running when `compact` returns; a failed partition keeps its
    * original files.
    */
  def compact(s: SparkSession, tableDir: String, targetBytes: Long): Report = {
    require(targetBytes > 0, "targetBytes must be positive")
    recover(tableDir)
    val before = stats(tableDir)
    val packed = before.map(st =>
      st -> math.max(1L, (st.bytes + targetBytes - 1) / targetBytes).toInt)
    val todo = packed.filter { case (st, n) => st.files > n }
    val pool = Executors.newFixedThreadPool(s.sparkContext.defaultParallelism)
    val failures =
      try {
        val running = todo.map { case (st, n) =>
          pool.submit[Unit](() => rewrite(s, st.dir, n))
        }
        running.flatMap(f => Try(f.get()).failed.toOption)
      } finally pool.shutdown()
    failures.map {
      case e: ExecutionException => e.getCause
      case e => e
    } match {
      case first +: rest => rest.foreach(first.addSuppressed); throw first
      case _ =>
    }
    Report(before.size, todo.size, before.map(_.files).sum,
      packed.map { case (st, n) => math.min(st.files, n) }.sum)
  }

  /** `.<name>.<kind>-<uuid>`, as [[swapSibling]] names it. */
  private val SwapName = """\.(.+)\.(tmp|old)-[0-9a-f-]{36}""".r

  /** Undo what an interrupted [[rewrite]] left in `tableDir`: an `.old`
    * sibling whose partition is missing holds that partition's files (the
    * crash fell between the two renames), so it is renamed back; every
    * other sibling is a leftover copy and is deleted.
    */
  private def recover(tableDir: String): Unit =
    Nio.list(Paths.get(tableDir)).foreach { p =>
      p.getFileName.toString match {
        case SwapName(name, kind) =>
          val dir = p.resolveSibling(name)
          if (kind == "old" && !Files.exists(dir))
            Files.move(p, dir, StandardCopyOption.ATOMIC_MOVE)
          else Nio.deleteTree(p)
        case _ =>
      }
    }

  /** Read-coalesce-write one partition into a hidden sibling, then swap it
    * in by two renames. The partition value lives in the directory name,
    * so the rewrite never touches it.
    */
  private def rewrite(s: SparkSession, dir: Path, packed: Int): Unit = {
    val tmp = swapSibling(dir, "tmp")
    try s.read.parquet(dir.toString).coalesce(packed).write.parquet(tmp.toString)
    catch { case e: Throwable => Try(Nio.deleteTree(tmp)); throw e }
    // drop the nested _SUCCESS marker — the table-level one is the
    // contract (LayoutCache); per-partition markers would read as
    // spurious tables to basePath-less readers
    Files.deleteIfExists(tmp.resolve("_SUCCESS"))
    val old = swapSibling(dir, "old")
    Files.move(dir, old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
    Nio.deleteTree(old)
  }

  /** Fragmented-then-compacted day-partitioned `events` layout backing the
    * declared q116: the build step writes the table the way a micro-batch
    * sink fragments it (many small files per day), then compacts it —
    * so the declared query reads exactly what a post-maintenance table
    * looks like, and its oracle (raw `events` in DuckDB) proves the
    * rewrite lost and invented nothing.
    */
  def compactedEventsPath(s: SparkSession, d: String): String = {
    import org.apache.spark.sql.functions.{date_add, lit}
    val h = LayoutCache.sourceKey(d)
    LayoutCache.installOnce(s, s"c116_events_$h") { tmp =>
      graft.Tables.events(s, d)
        .withColumn("day", date_add(lit("1970-01-01").cast("date"),
          Scalars.longDiv("ts", 86400000000000L).cast("int")))
        .repartition(8) // deliberate fragmentation: 8 files per day dir
        .write.partitionBy("day").parquet(tmp)
      val r = compact(s, tmp, 8L * 1024 * 1024)
      require(r.partitionsRewritten > 0,
        "compaction build expected fragmented partitions to rewrite")
    }
  }
}
