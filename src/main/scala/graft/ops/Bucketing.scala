package graft.ops

import org.apache.spark.sql.DataFrame

/** Bucketed-table utilities for co-located joins (builder-prompt scale
  * list: "repartition()/bucketing for co-located joins").
  *
  * Writing both sides of a recurring fact⋈fact join bucketed by the join
  * key removes the per-query shuffle entirely — the sort-merge join reads
  * pre-hashed buckets side by side. This is the Spark analog of the
  * reference's fixed `{locale}/{page}/{chunk}` S3 layout
  * (`ranking_urls_generator.py:45-47`, `s3_rankings_collector.py:110-112`),
  * which likewise pre-partitions data so downstream consumers never
  * re-shuffle. At 100 TB, bucketing lineitem/orders by orderkey turns every
  * order-grain join into a zero-exchange zip of bucket files.
  */
object Bucketing {

  /** Persist a DataFrame as a bucketed (and optionally sorted) table. */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCol: String,
      numBuckets: Int,
      sortCol: Option[String] = None): Unit = {
    val w = df.write.mode("overwrite")
      .format("parquet")
      .bucketBy(numBuckets, bucketCol)
    (sortCol match {
      case Some(s) => w.sortBy(s)
      case None => w
    }).saveAsTable(table)
  }
}
