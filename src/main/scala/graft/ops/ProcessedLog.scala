package graft.ops

import java.nio.file.{Files, Paths}

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
  * Crash-safety contract (same as the reference's): mark AFTER the unit's
  * output commits; a crash between output and mark reprocesses one unit,
  * which the idempotent sink (overwrite-by-unit / transactional file
  * commit) absorbs.
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

  /** Mark units processed (append; duplicates are harmless — the anti-join
    * semantics dedupe).
    */
  def mark(units: DataFrame, logDir: String, keys: Seq[String]): Unit =
    units.select(keys.map(col): _*).distinct()
      .write.mode("append").parquet(logDir)

}
