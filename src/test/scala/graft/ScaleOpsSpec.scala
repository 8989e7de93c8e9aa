package graft

import org.apache.spark.sql.functions._

import graft.ops.Skew

/** Scale utilities: salted skew handling (result parity with unsalted)
  * and the runtime bloom filter. Bucketed co-located joins are pinned by
  * `PlanSpec` on q13b.
  */
class ScaleOpsSpec extends SparkSpec {

  test("saltedSumCount equals plain groupBy on a skewed key distribution") {
    import spark.implicits._
    // 90% of rows share one key — the classic hot-key shape
    val rows = (1 to 9000).map(i => ("hot", i.toDouble)) ++
      (1 to 1000).map(i => (s"k${i % 50}", i.toDouble))
    val df = rows.toDF("k", "v")
    val salted = Skew.saltedSumCount(df, col("k"), col("v"), 8,
      saltOn = Seq(col("v")))
      .orderBy("k").collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    val plain = df.groupBy("k")
      .agg(sum("v").as("sum_v"), count(lit(1)).as("cnt"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    assert(salted.toSeq == plain.toSeq)
  }

  test("saltedJoin equals plain join on skewed fact x small dim") {
    import spark.implicits._
    val fact = ((1 to 5000).map(_ => 1) ++ (1 to 100).map(i => i % 10 + 2))
      .zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("fk", "payload")
    val dim = (1 to 12).map(k => (k, s"name$k")).toDF("dk", "name")
    val salted = Skew.saltedJoin(fact, dim, "fk", "dk", 8,
      saltOn = Seq(col("payload")))
      .select("fk", "payload", "name")
    val plain = fact.join(dim, col("fk") === col("dk"))
      .select("fk", "payload", "name")
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(salted).count() == 0)
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle " +
    "join (thresholds shrunk to fire at test size)") {
    // The 100 TB shape: fact ⋈ selectively-filtered dim where the dim is
    // too big to broadcast. Spark injects a bloom filter built from the
    // dim's join keys and applies it to the fact BEFORE the shuffle, so
    // the exchange carries only rows that can match. Production
    // thresholds (creation ≤ 10 MB, fact scan ≥ 10 GB) are exactly right
    // at scale and far above test data — shrink them here to prove the
    // mechanism; nothing else changes between local and cluster.
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force shuffle join
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1KB") {
      val fact = Tables.lineitem(spark, sf)
        .select("l_orderkey", "l_quantity")
      val dim = Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val j = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
      val p = j.queryExecution.executedPlan.toString.toLowerCase
      assert(p.contains("bloom"),
        s"no runtime bloom filter injected on the fact side:\n$p")
      // and the filtered result is still exact
      val expect = Tables.lineitem(spark, sf).join(
        Tables.orders(spark, sf)
          .filter(col("o_orderpriority") === "1-URGENT"),
        col("l_orderkey") === col("o_orderkey")).count()
      assert(j.count() === expect)
    }
  }
}
