package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Contract test for `Tables.events`'s ts normalization (VERDICT r7 #2).
  *
  * The driver's generator has shipped `events.ts` as parquet timestamp[ns]
  * (rounds 1-7) and timestamp[us]/NTZ (2026-08-13 regeneration) — the
  * silent switch broke 16 queries. This spec pins the contract so the next
  * physical-encoding change cannot: every physical form Spark can resolve
  * (int64 epoch-nanos, TIMESTAMP_NTZ from us-no-tz files, TIMESTAMP from
  * tz-adjusted files, and real timestamp[ns] via nanosAsLong — a pyarrow
  * fixture, since Spark cannot write ns parquet; `tools/make_ts_fixtures
  * .py`) must yield the SAME LongType epoch-nanos column.
  *
  * Fixture values sit on bucket boundaries ±1us where a lossy double
  * conversion, wrong-unit multiply, or ceil-ing division would misbucket
  * (one offset exceeds double's 53-bit mantissa in nanos).
  */
class TablesSpec extends SparkSpec {

  private val fixture = "src/test/resources/events_ts_ns.parquet"

  private def expectedNs: Seq[Long] = {
    // Ground truth from the ns fixture itself, read as raw int64 by the
    // legacy conf (ns -> long is a reinterpret, not a conversion).
    val dir = Files.createTempDirectory("ts-ns").toString
    Files.copy(Paths.get(fixture), Paths.get(s"$dir/events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    spark.read.parquet(s"$dir/events.parquet")
      .orderBy("event_id").select("ts").collect().map(_.getLong(0)).toSeq
  }

  private def eventsNs(dir: String): Seq[Long] = {
    val df = Tables.events(spark, dir)
    assert(df.schema("ts").dataType == LongType,
      s"Tables.events must normalize ts to LongType, got ${df.schema("ts")}")
    df.orderBy("event_id").select("ts").collect().map(_.getLong(0)).toSeq
  }

  private def writeVariant(suffix: String)(transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): String = {
    val dir = Files.createTempDirectory(s"ts-$suffix").toString
    val base = {
      val d = Files.createTempDirectory("ts-src").toString
      Files.copy(Paths.get(fixture), Paths.get(s"$d/events.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      spark.read.parquet(s"$d/events.parquet") // ts = int64 ns via legacy conf
    }
    transform(base).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("ts contract: timestamp[ns] fixture reads as epoch-ns longs") {
    val nsDir = Files.createTempDirectory("ts-real-ns").toString
    Files.copy(Paths.get(fixture), Paths.get(s"$nsDir/events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    assert(eventsNs(nsDir) == expectedNs)
  }

  test("ts contract: int64 epoch-nanos column passes through") {
    // Spark writes LongType as plain int64 — this round-trip IS the
    // int64-encoding variant (it previously existed twice as 'copy').
    val dir = writeVariant("int64")(identity)
    assert(eventsNs(dir) == expectedNs)
  }

  test("ts contract: timestamp[us] (TIMESTAMP_NTZ, the 2026-08-13 driver form) normalizes") {
    val dir = writeVariant("ntz") { df =>
      // ns -> NTZ micros the way the driver's pandas writer produced it:
      // wall clock == UTC instant. All fixture values are us-exact.
      df.withColumn("ts",
        timestamp_micros(expr("ts DIV 1000L")).cast(TimestampNTZType))
    }
    assert(eventsNs(dir) == expectedNs)
  }

  test("ts contract: tz-adjusted TIMESTAMP (us) normalizes") {
    withConf("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
      val dir = writeVariant("tz") { df =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000L")))
      }
      assert(eventsNs(dir) == expectedNs)
    }
  }

  test("ts contract: raw int64 epoch-MICROS is rejected loudly, not " +
    "silently misbucketed 1000x") {
    val dir = writeVariant("us-int64")(df =>
      df.withColumn("ts", expr("ts DIV 1000L"))) // int64 micros magnitude
    val e = intercept[IllegalArgumentException] {
      Tables.events(spark, dir)
    }
    assert(e.getMessage.contains("epoch-nanos magnitude"))
  }

  test("ts contract: driver testdata itself normalizes to LongType ns") {
    val df = Tables.events(spark, sf)
    assert(df.schema("ts").dataType == LongType)
    // epoch-ns magnitude sanity: 2024 era, not seconds/micros/millis
    val mn = df.agg(min("ts")).collect()(0).getLong(0)
    assert(mn > 1_500_000_000_000_000_000L && mn < 2_000_000_000_000_000_000L,
      s"ts=$mn is not epoch-nanos — unit drift in normalization")
  }

  /** `name.parquet` in a fresh dir: a copy of the testdata table `from`. */
  private def copyTable(dir: String, name: String, from: String): Unit =
    Files.copy(Paths.get(s"$sf/$from.parquet"), Paths.get(s"$dir/$name.parquet"),
      StandardCopyOption.REPLACE_EXISTING)

  test("Tables.t resolves a file's schema once per session: a second read " +
    "runs no Spark job") {
    val dir = Files.createTempDirectory("schema-once").toString
    copyTable(dir, "x", "orders")
    val (first, _) = jobsAndStagesOf(Tables.t(spark, dir, "x"))
    assert(first >= 1, "the first read did not infer the schema")
    val (second, _) = jobsAndStagesOf(Tables.t(spark, dir, "x"))
    assert(second == 0, s"the second read ran $second jobs")
    val a = Tables.t(spark, dir, "x")
    val b = Tables.t(spark, dir, "x")
    assert(a.schema == spark.read.parquet(s"$dir/x.parquet").schema)
    assert(a.queryExecution.analyzed.output.map(_.exprId).toSet
      .intersect(b.queryExecution.analyzed.output.map(_.exprId).toSet).isEmpty,
      "two reads share attribute ids: a self-join would be ambiguous")
    assert(a.join(b, a("o_orderkey") === b("o_orderkey")).count() ==
      a.count())
  }

  test("Tables.t re-resolves a file rewritten in place with another schema") {
    val dir = Files.createTempDirectory("schema-rewrite").toString
    copyTable(dir, "x", "orders")
    assert(Tables.t(spark, dir, "x").columns.contains("o_orderkey"))
    copyTable(dir, "x", "customer")
    val df = Tables.t(spark, dir, "x")
    assert(df.schema == Tables.customer(spark, sf).schema,
      s"a stale schema served after the rewrite: ${df.schema}")
    assert(df.count() == Tables.customer(spark, sf).count())
    assert(jobsAndStagesOf(Tables.t(spark, dir, "x"))._1 == 0)
  }

  test("Tables.t re-resolves when a conf that changes inference is set") {
    // orders.o_orderdate is parquet timestamp[us] without a time zone:
    // TIMESTAMP_NTZ by default, TIMESTAMP once inferTimestampNTZ is off.
    // Both schemas read the file, so only the cache key tells them apart.
    val dir = Files.createTempDirectory("schema-conf").toString
    copyTable(dir, "x", "orders")
    def dateType = Tables.t(spark, dir, "x").schema("o_orderdate").dataType
    assert(dateType == TimestampNTZType)
    withConf("spark.sql.parquet.inferTimestampNTZ.enabled" -> "false") {
      val (first, _) = jobsAndStagesOf(Tables.t(spark, dir, "x"))
      assert(first >= 1, "the read under the new conf was served the cache")
      assert(dateType == TimestampType,
        s"the cached schema served under the new conf: $dateType")
      assert(Tables.t(spark, dir, "x").count() ==
        Tables.orders(spark, sf).count())
      assert(jobsAndStagesOf(Tables.t(spark, dir, "x"))._1 == 0)
    }
    assert(dateType == TimestampNTZType)
    assert(jobsAndStagesOf(Tables.t(spark, dir, "x"))._1 == 0)
  }

  test("Tables.t from 4 threads on one session gives equal schemas") {
    val dir = Files.createTempDirectory("schema-threads").toString
    copyTable(dir, "x", "lineitem")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (1 to 16).map(_ => pool.submit(
        () => Tables.t(spark, dir, "x").schema))
      val schemas = futures.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(schemas.distinct == Seq(Tables.lineitem(spark, sf).schema))
    } finally pool.shutdown()
    assert(jobsAndStagesOf(Tables.t(spark, dir, "x"))._1 == 0)
  }
}
