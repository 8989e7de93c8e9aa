package graft.ops

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Batch idempotency via a processed-log table — the batch analog of the
  * reference's DynamoDB flag store (`ranking_urls_ingestor.py:82-114`:
  * check `exists(locale, page, chunk)` before processing, `create` after).
  *
  * Spark realization (SURVEY.md §2.10 T4): the flag check becomes one
  * LEFT ANTI join of the work-unit set against an append-only parquet log;
  * the mark becomes an append. The anti-join broadcasts the log while it is
  * dimension-sized; at 100 TB of history the log is itself partitioned and
  * pruned by the same unit-key prefix before the join.
  *
  * Ingest is exactly-once. The mark is appended AFTER the unit's output
  * is written, the same order as the reference's flag
  * (`ranking_urls_ingestor.py:96-114`), so a crash between the two leaves
  * the unit unmarked and the next run writes it again. The unit's output
  * goes through [[appendUnit]], which overwrites by unit: the re-run
  * replaces the rows of the earlier attempt instead of adding to them.
  * A stream's micro-batches go through the same [[appendUnit]], keyed on
  * their batch id, so Spark's replay of an uncommitted batch is absorbed
  * the same way (ops/StreamingIngest).
  */
object ProcessedLog {

  /** Work units not yet marked processed. `units` and the log must share
    * the key columns, with the same types that [[mark]] wrote to the log:
    * the log is read with the units' key schema, so a narrower type there
    * (an Int `chunk` against a logged Long) fails at scan time.
    *
    * The gate is two jobs on a non-empty log: the broadcast of the log and
    * the caller's action. The log is read with the key schema of `units`,
    * so no job infers it from the parquet footers. The log is not
    * deduplicated first: a left anti join keeps a unit row iff no log row
    * matches its key, so duplicate log rows change neither which units
    * come back nor how often, and a `distinct()` would only add a shuffle.
    */
  def pending(units: DataFrame, logDir: String, keys: Seq[String]): DataFrame = {
    val unitKeys = units.select(keys.map(col): _*)
    val dir = Paths.get(logDir)
    val logDf =
      if (Files.isDirectory(dir) &&
          Nio.list(dir).exists(_.getFileName.toString.endsWith(".parquet")))
        units.sparkSession.read.schema(unitKeys.schema).parquet(logDir)
      else unitKeys.limit(0) // empty, schema-matched
    units.join(broadcast(logDf), keys, "left_anti")
  }

  /** Mark units processed: append their keys to the log as they come,
    * with no shuffle of its own (one job of one stage for a local `units`).
    * Duplicate keys, within one call or across calls, are harmless:
    * [[pending]]'s anti join gives the same answer whatever duplicates the
    * log holds.
    */
  def mark(units: DataFrame, logDir: String, keys: Seq[String]): Unit =
    units.select(keys.map(col): _*).write.mode("append").parquet(logDir)

  /** Append `df` to the Hive-partitioned parquet table `tableDir` as work
    * unit `unit`, replacing whatever an earlier attempt of the same unit
    * left there. In order:
    *  - delete the earlier attempt's hidden staging sibling, and every
    *    data file of the table whose name carries the unit's prefix
    *    (`unit-<hash of unit>-`);
    *  - write `df` `partitionBy(partitionCols)` into a fresh hidden
    *    staging sibling (named by [[Compaction.swapSibling]], so readers
    *    of the table never list it), with a `rebalance` hint on the
    *    partition columns: one file per partition value with AQE on;
    *  - rename each staged file that holds rows into its partition under
    *    the unit's prefix, then delete the staging dir. So a unit of no
    *    rows adds no data file (the reference's skip of an empty chunk).
    *
    * So a re-run of a unit that crashed anywhere, or that finished but
    * was never marked, leaves the unit's rows in the table exactly once,
    * with no commit record and no recovery pass.
    *
    * Conditions:
    *  - A compacted file belongs to no unit ([[Compaction]] writes its own
    *    names), so compact a table only when it has no pending unit: a
    *    re-run after that would add its rows beside the compacted copy.
    *  - A reader that lists the table during the renames may see part of
    *    the unit. Once `appendUnit` returns, or once the unit's re-run
    *    returns, a reader sees the whole unit exactly once.
    *  - The table is listed once per call to find the unit's files; a
    *    table of very many files would keep a per-unit manifest instead.
    */
  def appendUnit(
      df: DataFrame,
      tableDir: String,
      unit: String,
      partitionCols: Seq[String]): Unit = {
    val table = Paths.get(tableDir)
    val name = "unit-" + java.security.MessageDigest.getInstance("SHA-256")
      .digest(unit.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
    val prefix = s"$name-"
    if (Files.isDirectory(table)) {
      Nio.list(table)
        .filter(_.getFileName.toString.startsWith(s".$name.stage-"))
        .foreach(Nio.deleteTree)
      Nio.walk(table).filter(_.getFileName.toString.startsWith(prefix))
        .foreach(Files.delete)
    }
    val staged = Compaction.swapSibling(table.resolve(name), "stage")
    (if (partitionCols.isEmpty) df
     else df.hint("rebalance", partitionCols.map(col): _*))
      .write.partitionBy(partitionCols: _*).parquet(staged.toString)
    Nio.walk(staged).filter(_.getFileName.toString.endsWith(".parquet"))
      .filter(f => partitionCols.nonEmpty || hasRows(f))
      .foreach { f =>
        val dir = table.resolve(staged.relativize(f.getParent))
        Files.createDirectories(dir)
        Files.move(f, dir.resolve(prefix + f.getFileName),
          StandardCopyOption.ATOMIC_MOVE)
      }
    Nio.deleteTree(staged)
  }

  /** False for the one schema-only file that an unpartitioned write of no
    * rows leaves (a partitioned write opens a file only for a row): read
    * from the footer, so an empty unit adds no data file without a second
    * job over its input.
    */
  private def hasRows(file: java.nio.file.Path): Boolean = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(file.toUri), new Configuration()))
    try r.getRecordCount > 0 finally r.close()
  }
}
