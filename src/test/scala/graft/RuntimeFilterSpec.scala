package graft

import org.apache.spark.sql.functions._

import graft.QueriesTime.dayPartitionedEvents

/** Runtime filtering — the two optimizer mechanisms that prune a 100 TB
  * fact scan using facts learned DURING execution, complementing the
  * static pruning the plan gates already cover (PlanSpec pushdown / q96
  * planning-time partition pruning / q104 z-order / q114 blooms):
  *
  *  - Dynamic partition pruning: a selective filter on a DIM table prunes
  *    the partitioned FACT scan at runtime via a reused broadcast — the
  *    classic star-schema date-dim pattern where the fact predicate isn't
  *    literal in the query text.
  *  - Runtime bloom-filter join pruning: for shuffle joins where neither
  *    side is a partition column, Spark builds a bloom filter over the
  *    filtered (creation) side's join keys and semi-filters the large
  *    (application) side BEFORE its shuffle — rows that cannot match
  *    never leave the scan stage.
  *
  * Both are conf-gated mechanisms, not code: these tests pin that the
  * session's query shapes actually trigger them, so a conf regression or
  * a plan-shape drift (e.g. a join rewritten in a way DPP can't see)
  * fails loudly. Thresholds are lowered to fire at test scale; at real
  * scale the defaults (10 MB creation side / 10 GB application side)
  * gate the same plans.
  */
class RuntimeFilterSpec extends SparkSpec {

  test("dynamic partition pruning: a dim-side filter prunes the " +
    "partitioned fact scan at runtime (star-schema date-dim shape)") {
    val path = dayPartitionedEvents(spark, sf)
    val fact = spark.read.parquet(path)
    val nDays = fact.select("day").distinct().count()
    // a date dim whose report-week flag is DATA (materialized to parquet,
    // read back): the optimizer cannot rewrite the dim filter into a
    // static literal predicate on fact.day (constraint inference would,
    // for a computed column), so pruning can only happen at runtime
    val dimPath = java.nio.file.Files.createTempDirectory("dpp_dim").toString
    fact.select(col("day").as("d_day")).distinct()
      .withColumn("week_tag",
        when(col("d_day") >= lit("2024-01-08").cast("date") &&
          col("d_day") <= lit("2024-01-14").cast("date"), "report-week")
          .otherwise("other"))
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
    val q = fact.join(broadcast(dim), fact("day") === dim("d_day"))
      .filter(col("week_tag") === "report-week")
      .groupBy("day").agg(count(lit(1)).as("n"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"no dynamic partition pruning subquery in the fact scan:\n$plan")
    // runtime effect: the scan reads only the dim-selected partitions
    val rows = q.collect()
    assert(rows.length == 7 && rows.length < nDays)
    val scan = q.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).find(_.contains("PartitionFilters")).get
    assert(scan.contains("dynamicpruningexpression"),
      s"fact scan lost the pruning expression:\n$scan")
  }

  test("runtime bloom-filter join pruning: the filtered small side " +
    "semi-filters the big side's scan before its shuffle") {
    // force a shuffle join (no broadcast -> no DPP/broadcast reuse path)
    // and lower the size thresholds so test-scale tables qualify
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1KB") {
      val li = Tables.lineitem(spark, sf)
        .select("l_orderkey", "l_quantity")
      val ord = Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey", "o_orderdate")
      val q = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy("o_orderdate").agg(sum("l_quantity").as("qty"))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        s"no bloom-filter runtime filter on the application side:\n$plan")
      assert(plan.contains("bloom_filter_agg"),
        s"no bloom-filter aggregate on the creation side:\n$plan")
      // the filter must land on lineitem's side (the big scan), upstream
      // of its shuffle: in the optimized logical plan the injected Filter
      // hosting might_contain must sit over the lineitem relation, not
      // orders (AQE hides the physical subtree, so gate on the logical)
      val bloomFilters = q.queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter
            if f.condition.toString.contains("might_contain") => f
      }
      assert(bloomFilters.nonEmpty, "no might_contain Filter node")
      val subtree = bloomFilters.map(_.child.toString).mkString("\n")
      assert(subtree.contains("l_orderkey") && !subtree.contains("o_orderpriority"),
        s"bloom filter not applied on lineitem's side:\n$subtree")
      // and the semantics are unchanged
      assert(q.count() > 0)
    }
  }
}
