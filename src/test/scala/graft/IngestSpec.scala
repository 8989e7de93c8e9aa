package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.SparkException
import org.apache.spark.sql.functions._

/** Batch CSV ingest path (SURVEY.md §2.1 S1/S6/S7/S8): declared schema,
  * FAILFAST type checking (the `types_check: True` analog,
  * `ranking_urls_ingestor.py:78`), shard-concat union, partitioned write.
  */
class IngestSpec extends SparkSpec {

  private def mkShard(rows: Seq[String]): String = {
    val dir = Files.createTempDirectory("csvshard").toString
    val header = "domain,date,term,url,rank,volume,cpc"
    Files.write(Paths.get(dir, "part1.csv"),
      (header +: rows).mkString("\n").getBytes)
    dir
  }

  test("S1/S7: CSV shard reads positionally against the declared schema") {
    val dir = mkShard(Seq(
      "foo.com,2023-01-01,term a,https://foo.com/x,5,1000,2.34",
      "bar.com,2023-02-01,term b,,,-,0.5")) // null url/rank, bad volume
    // FAILFAST: the malformed numeric row must abort the read
    val ex = intercept[SparkException] {
      Tables.readRankingsCsv(spark, dir).collect()
    }
    assert(ex.getMessage.contains("MALFORMED_RECORD") ||
      ex.getCause != null)
  }

  test("S1 happy path + P5 null-rejection filter") {
    val dir = mkShard(Seq(
      "foo.com,2023-01-01,term a,https://foo.com/x,5,1000,2.34",
      "bar.com,2023-02-01,term b,,,2000,0.5")) // null url+rank (valid types)
    val df = Tables.readRankingsCsv(spark, dir)
    assert(df.count() == 2)
    // reference drops rows with null url/rank (`rankings_generator.py:158-162`)
    val clean = df.na.drop(Seq("url", "rank"))
    assert(clean.count() == 1)
    val r = clean.collect().head
    assert(r.getAs[String]("domain") == "foo.com")
    assert(r.getAs[Int]("rank") == 5)
    assert(r.getAs[java.sql.Date]("date").toString == "2023-01-01")
  }

  test("S6/S7: multi-shard union ingested to date-partitioned parquet") {
    val d1 = mkShard(Seq("a.com,2023-01-01,t1,https://a.com/1,1,10,0.1"))
    val d2 = mkShard(Seq("b.com,2023-01-02,t2,https://b.com/2,2,20,0.2"))
    val out = Files.createTempDirectory("warehouse").toString
    val df = Tables.readRankingsCsv(spark, d1)
      .unionByName(Tables.readRankingsCsv(spark, d2))
    df.write.mode("overwrite").partitionBy("date").parquet(out)
    val back = spark.read.parquet(out)
    assert(back.count() == 2)
    // partition pruning: a date filter must prune to a single partition dir
    val pruned = back.filter(col("date") === "2023-01-01")
    assert(pruned.count() == 1)
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters"))
  }

  test("S3: CSV parses from an in-memory string buffer (no file round-trip)") {
    // reference: S3 GET body -> csv.reader(io.StringIO(...))
    // (`ranking_urls_generator.py:197-199`); Spark form = Dataset[String]
    import spark.implicits._
    val body = Seq(
      "domain,date,term,url,rank,volume,cpc",
      "foo.com,2023-01-01,term a,https://foo.com/x,5,1000,2.34",
      "bar.com,2023-02-01,term b,https://bar.com/y,7,2000,0.5")
    val df = Tables.readRankingsCsvBuffer(spark, body.toDS())
    // file/buffer sources force nullable=true; names+types must match
    assert(df.schema.map(f => (f.name, f.dataType)) ==
      Tables.rankingsV1Schema.map(f => (f.name, f.dataType)))
    val rows = df.orderBy("domain").collect()
    assert(rows.length == 2)
    assert(rows(1).getAs[String]("domain") == "foo.com")
    assert(rows(1).getAs[Int]("rank") == 5)
    assert(rows(0).getAs[Long]("volume") == 2000L)
    // FAILFAST holds on the buffer path too
    val bad = Seq("domain,date,term,url,rank,volume,cpc",
      "x.com,2023-01-01,t,u,notanint,10,0.1")
    intercept[SparkException] {
      Tables.readRankingsCsvBuffer(spark, bad.toDS()).collect()
    }
  }

  test("S5: XML sitemap reads as rows (native Spark 4 XML source)") {
    // reference fixture shape: `tax sherpa sitemap.xml:1-431` url records
    val dir = Files.createTempDirectory("sitemap").toString
    Files.write(Paths.get(dir, "sitemap.xml"),
      """<?xml version="1.0" encoding="UTF-8"?>
        |<urlset>
        |  <url><loc>https://a.com/page1</loc><lastmod>2023-01-01</lastmod><priority>0.8</priority></url>
        |  <url><loc>https://a.com/page2</loc><lastmod>2023-02-01</lastmod><priority>0.5</priority></url>
        |</urlset>""".stripMargin.getBytes)
    val df = spark.read.option("rowTag", "url").xml(dir)
    assert(df.count() == 2)
    assert(df.select("loc").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("https://a.com/page1", "https://a.com/page2"))
  }

  test("S4: blob key fields parsed from input_file_name") {
    // reference: S3 key encodes term/timestamp (`ranking_urls_generator.py:216-219`)
    val dir = Files.createTempDirectory("blobs").toString
    Files.write(Paths.get(dir, "seo tips_en-us_1678887190.json"),
      """{"rank": 1}""".getBytes)
    Files.write(Paths.get(dir, "pet food_en-ca_1678887200.json"),
      """{"rank": 2}""".getBytes)
    val df = spark.read.json(dir)
      .withColumn("fname", regexp_extract(
        input_file_name(), "([^/]+)\\.json$", 1))
      .withColumn("term", element_at(split(col("fname"), "_"), 1))
      .withColumn("ts", element_at(split(col("fname"), "_"), -1).cast("long"))
    val rows = df.select("term", "ts", "rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._2)
    assert(rows.toSeq == Seq(
      ("seo%20tips", 1678887190L, 1L), ("pet%20food", 1678887200L, 2L)) ||
      rows.toSeq == Seq(
        ("seo tips", 1678887190L, 1L), ("pet food", 1678887200L, 2L)))
  }

  test("flagship entry returns rows (driver t1 smoke shape)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("S6b: dynamic partition overwrite makes batch re-runs idempotent") {
    import spark.implicits._
    // the exactly-once answer for BATCH pipelines: a failed/duplicated
    // daily run re-writes ONLY its own date partition — static overwrite
    // would wipe the whole table, append would double-count. At 100 TB
    // the replaced unit is one partition dir, not the table.
    val dir = Files.createTempDirectory("dynpart").toString
    val v1 = Seq(("2023-01-01", "a", 1L), ("2023-01-01", "b", 2L),
      ("2023-01-02", "c", 3L)).toDF("date", "k", "v")
    v1.write.partitionBy("date").mode("overwrite").parquet(dir)
    // day-2 batch re-runs with corrected data; day-1 must survive
    val rerun = Seq(("2023-01-02", "c", 30L), ("2023-01-02", "d", 40L))
      .toDF("date", "k", "v")
    withConf("spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      rerun.write.partitionBy("date").mode("overwrite").parquet(dir)
    }
    // partition-column inference types `date` as DATE — cast for compare
    val got = spark.read.parquet(dir)
      .select(col("date").cast("string"), col("k"), col("v"))
      .orderBy("date", "k")
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2))).toSeq
    assert(got == Seq(("2023-01-01", "a", 1L), ("2023-01-01", "b", 2L),
      ("2023-01-02", "c", 30L), ("2023-01-02", "d", 40L)))
  }

  test("S1b: mergeSchema reads across schema evolution (added column)") {
    import spark.implicits._
    // corpora evolve: later shards add columns (a new quality score, a
    // new provenance field). mergeSchema unions the file schemas —
    // early files surface NULL for the added column instead of failing
    // the read or silently dropping the field.
    val dir = Files.createTempDirectory("evolve").toString
    Seq((1L, "x")).toDF("id", "a")
      .write.parquet(s"$dir/batch=1")
    Seq((2L, "y", 0.9)).toDF("id", "a", "quality")
      .write.parquet(s"$dir/batch=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet == Set("id", "a", "quality", "batch"))
    val rows = merged.orderBy("id")
      .select("id", "a", "quality").collect()
    assert(rows(0).isNullAt(2), "pre-evolution file must read NULL")
    assert(rows(1).getDouble(2) == 0.9)
  }

  test("S1c: ORC round-trips with predicate pushdown (mixed-format lake)") {
    // a 100 TB lake is rarely one format; the same declarative plan must
    // scan ORC with the same pruning/pushdown guarantees as parquet.
    val dir = Files.createTempDirectory("orclake").toString
    Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey", "l_quantity")
      .write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir).filter(col("l_partkey") > 100)
    val viaParquet = Tables.lineitem(spark, sf)
      .filter(col("l_partkey") > 100)
      .select("l_orderkey", "l_partkey", "l_quantity")
    assert(back.count() == viaParquet.count())
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThan(l_partkey,100)"),
      s"ORC scan did not push the range predicate:\n$plan")
  }

  test("every declared oracle query has matching column sets documented") {
    // guard against the #1 driver-contract risk: a queries key without
    // an oracleSql entry is only legal for documented no-oracle ops
    val noOracle = Set("q08b_approx_distinct", "q63b_approx_percentiles",
      "q106_cms_heavy_hitters", "q108_hll_rollup",
      "q110_ann_pq", // sketch/quantizer twins — no SQL-replayable form
      "q131_phash_neardup", // DuckDB can't decode PNG / replay the DCT
      "q132_audio_neardup", // DuckDB can't decode WAV / replay Goertzel
      "q133_video_scene_dedup", // DuckDB can't decode GIF frames
      "q189_caption_consistency", // PNG decode leg; python truth replay
      "q214_topk_spacesaving", // summary contents are stream-order-
      // dependent (the documented SpaceSaving property); the CLAIMS are
      // bounds-gated: est/err window + guaranteed-membership replay
      "q217_topk_weighted") // q214's weighted twin, same gate with
      // "count" read as "total weight" (exact per-user cents mass)
    // each of the eleven is quantitatively bounds-checked by
    // tools/verify_local.py (BOUNDS-PASS) — none is trust-the-spec
    val missing = SparkEntry.queries.keySet --
      SparkEntry.oracleSql.keySet -- noOracle
    assert(missing.isEmpty, s"queries without oracle: $missing")
  }
}
