package graft

import org.apache.spark.sql.functions._

import graft.ops.{Bucketing, Skew, TypedRankings}

/** Scale utilities: salted skew handling (result parity with unsalted),
  * bucketed co-located joins (no exchange in the plan), typed Dataset ops.
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

  test("bucketed tables join without an exchange (co-located join)") {
    // warehouse.dir is a static conf — tables land in ./spark-warehouse
    // (gitignored); names are test-local. Clean any residue from aborted runs.
    Seq("b_orders", "b_lineitem").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
        }
        rm(loc)
      }
    }
    Bucketing.writeBucketed(
      Tables.orders(spark, sf).select("o_orderkey", "o_totalprice"),
      "b_orders", "o_orderkey", 4, sortCol = Some("o_orderkey"))
    Bucketing.writeBucketed(
      Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity"),
      "b_lineitem", "l_orderkey", 4, sortCol = Some("l_orderkey"))
    val joined = Bucketing.cooperativeJoin(spark, "b_orders", "b_lineitem",
      "o_orderkey", "l_orderkey")
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    // co-located: no shuffle (hashpartitioning exchange) on either side
    assert(!plan.contains("hashpartitioning"),
      s"bucketed join still shuffles:\n$plan")
    assert(plan.contains("SortMergeJoin"))
    assert(joined.count() ==
      Tables.lineitem(spark, sf).join(Tables.orders(spark, sf),
        col("l_orderkey") === col("o_orderkey")).count())
  }

  test("typed Dataset[Ranking] round-trip with null-rejection and invariants") {
    val dir = java.nio.file.Files.createTempDirectory("csvshard").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "s.csv"),
      ("domain,date,term,url,rank,volume,cpc\n" +
        "a.com,2023-01-01,t1,https://a.com/1,1,10,0.1\n" +
        "a.com,2023-01-02,t2,,,20,0.2\n" +            // null url/rank
        "b.com,2023-01-03,t3,https://b.com/3,100,30,0.3").getBytes)
    val ds = TypedRankings.fromCsv(spark, dir)
    assert(ds.count() == 3)
    assert(TypedRankings.clean(ds).count() == 2)
    assert(TypedRankings.violations(ds).count() == 0)
    val mv = TypedRankings.maxVolumeByDomain(ds).orderBy("domain").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(mv.toSeq == Seq(("a.com", 20L), ("b.com", 30L)))
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
