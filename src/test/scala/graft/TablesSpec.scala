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
}
