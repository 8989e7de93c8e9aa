package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.pipelines.RankingsPipelines

/** End-to-end pipeline flows (SURVEY.md §3) on reference-shaped fixtures
  * (FIXTURES.md §A3), covering the edge cases the reference's code paths
  * exercise: cutoff straddling, falsy serp_rankings, >3 qualifying entries,
  * untracked/unprocessed topics, null url/position rows.
  */
class PipelinesSpec extends SparkSpec {
  import RankingsPipelines._

  private val cutoff = 1000L

  private def topicsDf = spark.createDataFrame(
    java.util.Arrays.asList(
      Row("alpha", "processed", 2000L, 10L, true),
      Row("beta", "processed", 2000L, 20L, true),
      Row("gamma", "pending", 2000L, 30L, true),    // wrong status → dropped
      Row("delta", "processed", 500L, 40L, true),   // stale → dropped
      Row("epsilon", "processed", 2000L, 50L, false) // untracked → dropped
    ), topicsSchema)

  private def indexDf = spark.createDataFrame(
    java.util.Arrays.asList(
      Row("alpha", java.util.Arrays.asList(
        Row(1500L, "k1"), Row(1600L, "k2"), Row(1700L, "k3"),
        Row(1800L, "k4"),         // 4 qualifying → top-3 only
        Row(900L, "k_old"),       // before cutoff → dropped
        Row(1900L, ""))),         // falsy serp_rankings → dropped
      Row("beta", java.util.Arrays.asList(Row(1200L, "kb"))),
      Row("nokeys", java.util.Arrays.asList(Row(1500L, "kx")))
    ), serpIndexSchema)

  test("collectRankings: filter, broadcast lookup, HOF filter, top-3") {
    val out = collectRankings(topicsDf, indexDf, cutoff,
      pageSize = 10, pageNo = 0)
      .orderBy("topic", "rn").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      ("alpha", 1, 1800L, "k4"),
      ("alpha", 2, 1700L, "k3"),
      ("alpha", 3, 1600L, "k2"),
      ("beta", 1, 1200L, "kb")))
    // gamma/delta/epsilon filtered; nokeys not in page → absent
  }

  test("collectRankings pagination slices the topic stream deterministically") {
    val p0 = collectRankings(topicsDf, indexDf, cutoff, pageSize = 1, pageNo = 0)
      .select("topic").distinct().collect().map(_.getString(0)).toSeq
    val p1 = collectRankings(topicsDf, indexDf, cutoff, pageSize = 1, pageNo = 1)
      .select("topic").distinct().collect().map(_.getString(0)).toSeq
    assert(p0 == Seq("alpha") && p1 == Seq("beta")) // ordered by last_time_scheduled
  }

  test("rankingUrlsTransform derives the 16-col schema with null-rejection") {
    import spark.implicits._
    val serp = Seq(
      ("seo tips_en-us_1678887190", "https://www.Example.com/Blog/", 3,
        1000L, 1.234, 0.5, "['cat a', 'cat b']", 0.1, 10.0, 0.2,
        "['organic', 'images']", 42L),
      ("seo tips_en-us_1678887190", null.asInstanceOf[String], 4,
        1000L, 1.0, 0.5, "['x']", 0.1, 10.0, 0.2, "['organic']", 42L)
    ).toDF("s3_key", "url", "position", "volume", "cpc", "competition",
      "category_strings_raw", "mm_difficulty", "traffic", "traffic_pct",
      "serp_features_raw", "results_count")
    val out = rankingUrlsTransform(serp)
    assert(out.columns.toSeq == Seq("domain", "root_domain", "date",
      "url_bone", "url_prefix", "term", "rank", "volume", "cpc",
      "competition", "category_strings", "mm_difficulty", "traffic",
      "traffic_pct", "serp_features", "results_count"))
    val rows = out.collect()
    assert(rows.length == 1) // null url row dropped
    val r = rows.head
    assert(r.getAs[String]("domain") == "Example.com")
    assert(r.getAs[String]("root_domain") == "Example.com")
    assert(r.getAs[String]("url_bone") == "Example.com/Blog")
    assert(r.getAs[String]("url_prefix") == "https://www.")
    assert(r.getAs[String]("term") == "seo tips")
    assert(r.getAs[java.sql.Date]("date").toString == "2023-03-15")
    assert(r.getAs[Int]("rank") == 3)
    assert(r.getSeq[String](r.fieldIndex("category_strings")) ==
      Seq("cat a", "cat b"))
    assert(r.getSeq[String](r.fieldIndex("serp_features")) ==
      Seq("organic", "images"))
  }

  test("bulkIngest writes a date-partitioned warehouse from CSV shards") {
    val dir = java.nio.file.Files.createTempDirectory("shards").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "s1.csv"),
      ("domain,date,term,url,rank,volume,cpc\n" +
        "a.com,2023-01-01,t,https://a.com/1,1,10,0.1\n" +
        "b.com,2023-01-02,t,https://b.com/2,2,20,0.2").getBytes)
    val out = java.nio.file.Files.createTempDirectory("wh").toString
    bulkIngest(spark, dir, out)
    val back = spark.read.parquet(out)
    assert(back.count() == 2)
    assert(new java.io.File(out).listFiles()
      .exists(_.getName.startsWith("date=")))
  }

  test("bulkIngest clusters each append by date: one parquet file per " +
    "date per call with AQE on, one per scan task without; the rows read " +
    "back are the CSV rows") {
    val rows = for (d <- 1 to 3; i <- 0 until 6) yield
      (s"d$i.com", f"2023-01-$d%02d", s"t$i", s"https://d$i.com/$d",
        i + 1, 10L * i, 0.25 * i)
    // three CSV files per append, each spanning every date: a scan task
    // per file, so an unclustered write leaves 3 files a date
    def shards(part: Seq[(String, String, String, String, Int, Long, Double)])
        : String = {
      val dir = java.nio.file.Files.createTempDirectory("shards")
      part.zipWithIndex.groupBy(_._2 % 3).foreach { case (k, rs) =>
        java.nio.file.Files.write(dir.resolve(s"s$k.csv"),
          ("domain,date,term,url,rank,volume,cpc\n" + rs.map(_._1)
            .map(_.productIterator.mkString(",")).mkString("\n")).getBytes)
      }
      dir.toString
    }
    val (first, second) = rows.partition(_._5 <= 3)
    Seq("true", "false").foreach { aqe =>
      withConf("spark.sql.adaptive.enabled" -> aqe) {
        val out = java.nio.file.Files.createTempDirectory("wh")
        def filesPerDate: Map[String, Int] =
          graft.ops.Nio.list(out)
            .filter(_.getFileName.toString.startsWith("date="))
            .map(d => d.getFileName.toString -> graft.ops.Nio.list(d)
              .count(_.getFileName.toString.endsWith(".parquet"))).toMap
        // Spark drops the rebalance hint when AQE is off
        val perCall = if (aqe == "true") 1 else 3
        bulkIngest(spark, shards(first), out.toString)
        assert(filesPerDate.size == 3 &&
          filesPerDate.values.forall(_ == perCall), s"AQE $aqe: $filesPerDate")
        bulkIngest(spark, shards(second), out.toString)
        assert(filesPerDate.size == 3 &&
          filesPerDate.values.forall(_ == 2 * perCall),
          s"AQE $aqe: $filesPerDate")
        val back = spark.read.parquet(out.toString)
          .select("domain", "date", "term", "url", "rank", "volume", "cpc")
          .collect().map(r => (r.getString(0), r.getDate(1).toString,
            r.getString(2), r.getString(3), r.getInt(4), r.getLong(5),
            r.getDouble(6)))
        assert(back.toSeq.sortBy(_.toString) == rows.sortBy(_.toString),
          s"AQE $aqe")
      }
    }
  }
}
