package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming realization of the reference's micro-batch ingest
  * pipeline — SURVEY.md §2.10.
  *
  * Reference semantics being re-expressed (file:line in /root/reference):
  *  - T1 micro-batch file stream: 2,137 CSV shards ingested one-by-one
  *    (`ingest.py:15-19`), chunked S3 prefixes
  *    (`ranking_urls_generator.py:249-263`) → file-source stream with
  *    `maxFilesPerTrigger`.
  *  - T2 bounded parallelism: `concurrently.py:5-28` thread pool with
  *    FIRST_COMPLETED refill → Spark's task scheduler, no code needed.
  *  - T4 exactly-once/idempotent sink: DynamoDB flag per chunk, check-before
  *    mark-after (`ranking_urls_ingestor.py:96-114`) → checkpointing + a
  *    sink that overwrites by batch id ([[ProcessedLog.appendUnit]]). A
  *    restarted query never re-ingests a committed batch, and its replay
  *    of an uncommitted one replaces that batch's earlier rows.
  *  - T5 resume-from-offset: `start_chunk_no` args
  *    (`ranking_urls_generator.py:255-257`) → checkpoint recovery.
  *  - T7 skip-empty-batch: `if not indices: continue`
  *    (`s3_rankings_collector.py:106-108`) → an empty batch's write adds
  *    no data file ([[ProcessedLog.appendUnit]]).
  *
  * At 100 TB scale: `maxFilesPerTrigger` bounds per-batch memory exactly like
  * the reference's NUM_FILES_IN_A_CHUNK=10 (`ranking_urls_generator.py:45-47`);
  * the parquet sink partitions by `date` (the MergeTree-date analog,
  * SURVEY.md §1.1) so downstream readers prune partitions. The stream
  * table has the bulk table's layout, so ops/Compaction maintains both.
  */
object StreamingIngest {

  /** CSV shard directory → streaming DataFrame with a declared schema
    * (FAILFAST-equivalent: the schema is enforced, mirroring
    * `types_check: True`, `ranking_urls_ingestor.py:78`).
    */
  def csvStream(
      spark: SparkSession,
      schema: StructType,
      dir: String,
      maxFilesPerTrigger: Int = 10): DataFrame =
    spark.readStream
      .schema(schema)
      .option("header", "true")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .csv(dir)

  /** Run the ingest to a partitioned parquet table with AvailableNow —
    * processes everything currently present, in bounded batches, then stops;
    * the checkpoint makes re-runs idempotent (T4/T5). Each micro-batch is
    * one [[ProcessedLog.appendUnit]] keyed on (`checkpointDir`, batch id),
    * so a batch that Spark replays after a crash before its commit
    * overwrites its own earlier rows, and an empty batch adds no data file
    * (T7) without a probe job that would scan the batch twice. Spark runs
    * a foreachBatch write with AQE on, so the `rebalance` hint clusters
    * each batch: one file per partition value per batch, where the file
    * sink wrote one per scan task per partition value.
    */
  def ingestAvailableNow(
      df: DataFrame,
      outDir: String,
      checkpointDir: String,
      partitionCols: Seq[String] = Seq.empty): StreamingQuery =
    df.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        ProcessedLog.appendUnit(
          batch, outDir, s"$checkpointDir#$id", partitionCols)
      }
      .start()
}
