package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Scalars

/** End-to-end Spark realizations of the reference's three pipeline entry
  * points (SURVEY.md §3) over reference-shaped tables (FIXTURES.md §A).
  * Each multi-process, multi-network-hop Python pipeline collapses into one
  * declarative lineage whose stage boundaries are Catalyst exchanges.
  *
  * Scale posture: topic/index tables are dimension-sized → broadcast; the
  * SERP payload stream is the 100 TB fact side and is never collected;
  * output is written partitioned by date (MergeTree-date analog).
  */
object RankingsPipelines {

  /** §3.2 `s3_rankings_collector.py` — topics → per-topic recent index keys.
    *
    * Reference steps (file:line in /root/reference):
    *  1. Paged topic fetch, `ORDER BY last_time_scheduled LIMIT/OFFSET`
    *     (`s3_rankings_collector.py:133-139`)
    *  2. Per-topic DynamoDB `get_item` + nested filter
    *     `ts > cutoff and serp_rankings` (`:85-88`)
    *  3. Per-topic top-3 most recent (`:88` `s3_keys[:3]`)
    *  4. Flatten + CSV shard write (`:46-69`)
    *
    * @param topics   topics_to_schedule(topic, status, last_update_timestamp,
    *                 last_time_scheduled, tracked)
    * @param serpIndex serp_index(topic, historical_serp_data:
    *                 array<struct<timestamp:long, serp_rankings:string>>)
    * @param cutoffEpoch 90-day lookback cutoff (`:36`)
    */
  def collectRankings(
      topics: DataFrame,
      serpIndex: DataFrame,
      cutoffEpoch: Long,
      pageSize: Int,
      pageNo: Int): DataFrame = {
    // step 1: deterministic page (unique tiebreak per SURVEY.md §7.5 #5)
    val page = topics
      .filter(col("tracked") && col("status") === "processed" &&
        col("last_update_timestamp") > cutoffEpoch)
      .orderBy(col("last_time_scheduled").asc, col("topic").asc)
      .offset(pageNo * pageSize).limit(pageSize)
      .select("topic")
    // step 2: broadcast key-lookup join + HOF nested filter (q10/q20 shapes)
    val filtered = serpIndex.join(broadcast(page), Seq("topic"))
      .select(col("topic"),
        filter(col("historical_serp_data"),
          e => e.getField("timestamp") > cutoffEpoch &&
            length(e.getField("serp_rankings")) > 0).as("entries"))
    // step 3: per-topic top-3 most recent (q21 shape)
    val w = Window.partitionBy("topic")
      .orderBy(col("entry.timestamp").desc, col("entry.serp_rankings").asc)
    filtered
      .select(col("topic"), explode(col("entries")).as("entry"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("topic"), col("rn"),
        col("entry.timestamp").as("ts"),
        col("entry.serp_rankings").as("serp_key"))
  }

  /** §3.3 transform core `rankings_to_clickhouse_schema`
    * (`ranking_urls_generator.py:129-187`): SERP payload rows → 16-col
    * ranking_urls rows. One wide fused select per row (q38 shape) after
    * null-rejection (q04 shape) — the whole Python loop is a single
    * codegen'd stage.
    *
    * @param serp rows (s3_key, url, position, volume, cpc, competition,
    *             category_strings_raw, mm_difficulty, traffic, traffic_pct,
    *             serp_features_raw, results_count)
    */
  def rankingUrlsTransform(serp: DataFrame): DataFrame =
    serp
      .na.drop(Seq("url", "position"))          // `:143-147`
      .select(
        // domain = fqdn minus www. (`:150-154`), simplified-rule parse
        regexp_replace(
          regexp_extract(col("url"), "^https?://([^/]+)", 1), "^www\\.", "")
          .as("domain"),
        Scalars.registeredDomain(
          regexp_replace(
            regexp_extract(col("url"), "^https?://([^/]+)", 1), "^www\\.", ""))
          .as("root_domain"),
        // date from the key's epoch suffix (`:140`, `:217-218`)
        to_date(from_unixtime(
          element_at(split(col("s3_key"), "_"), -1).cast("long"))).as("date"),
        Scalars.urlBone(col("url")).as("url_bone"),
        Scalars.urlPrefix(col("url")).as("url_prefix"),
        element_at(split(col("s3_key"), "_"), 1).as("term"),
        col("position").cast("int").as("rank"),
        col("volume").cast("long").as("volume"),
        round(col("cpc"), 2).as("cpc"),
        round(col("competition"), 6).as("competition"),
        Scalars.parsePyListFast(col("category_strings_raw"))
          .as("category_strings"),
        round(col("mm_difficulty"), 9).as("mm_difficulty"),
        round(col("traffic"), 9).as("traffic"),
        round(col("traffic_pct"), 6).as("traffic_pct"),
        Scalars.parsePyListFast(col("serp_features_raw")).as("serp_features"),
        col("results_count").cast("long").as("results_count"))

  /** §3.1 `ingest.py` — CSV shard glob → date-partitioned parquet warehouse.
    * The 2,137-subprocess insert loop is one read + one write; Spark's
    * scheduler replaces the process fan-out (T2).
    *
    * The write carries a `rebalance` hint on `date`, so with AQE on each
    * call writes one file per date rather than one per scan task per date:
    * the MergeTree insert that makes one part per partition.
    * `optimizeSkewsInRebalancePartitions` still splits a date that is too
    * big for one task, which a plain repartition on `date` would not.
    * Spark drops the hint when AQE is off, and the write is then one file
    * per scan task per date. The stream sink (ops/StreamingIngest) is not
    * clustered: micro-batches run without AQE, so a repartition there
    * would make one task the only writer of each date in every batch.
    */
  def bulkIngest(
      spark: SparkSession,
      csvGlob: String,
      outDir: String): Unit =
    graft.Tables.readRankingsCsv(spark, csvGlob)
      .hint("rebalance", col("date"))
      .write.mode("append").partitionBy("date").parquet(outDir)

  /** Reference-shaped side-table schemas (FIXTURES.md §A3). */
  val topicsSchema: StructType = StructType(Seq(
    StructField("topic", StringType, nullable = false),
    StructField("status", StringType, nullable = false),
    StructField("last_update_timestamp", LongType, nullable = false),
    StructField("last_time_scheduled", LongType, nullable = false),
    StructField("tracked", BooleanType, nullable = false)))

  val serpIndexSchema: StructType = StructType(Seq(
    StructField("topic", StringType, nullable = false),
    StructField("historical_serp_data", ArrayType(StructType(Seq(
      StructField("timestamp", LongType, nullable = false),
      StructField("serp_rankings", StringType, nullable = true)))),
      nullable = false)))
}
