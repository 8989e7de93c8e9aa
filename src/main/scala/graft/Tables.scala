package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.types._

/** Typed readers for the driver testdata tables (TESTDATA.md / FIXTURES.md §B)
  * and the reference-shaped tables (FIXTURES.md §A; schema evidence:
  * reference `rankings_generator.py:143-151`, `ranking_urls_generator.py:99-116`).
  *
  * The testdata tables (and the layouts built from them) are read with
  * each parquet file's own schema, resolved once per session and keyed on
  * (session, path, each file's length and mtime, the session's parquet
  * confs) ([[parquet]]).
  * The reference-shaped tables have declared schemas, which CSV ingest
  * enforces with FAILFAST, mirroring the reference's insert-time
  * `types_check: True` discipline (`ranking_urls_ingestor.py:78`).
  * At 100 TB the fact tables would be written `partitionBy("date")` parquet —
  * the analog of ClickHouse MergeTree date ordering (SURVEY.md §1.1).
  */
object Tables {

  /** Read one driver testdata table. Parquet carries its own schema; the
    * vectorized reader + column pruning/pushdown come free.
    */
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** Read a parquet file or dir with its own schema, resolved once per
    * session. Inferring it runs one Spark job per read, so later reads
    * declare the schema the first one inferred: a query build then runs no
    * job for its table and layout reads. Every call still returns a fresh
    * DataFrame, so a self-join gets distinct attribute ids.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schemaOf(spark, path)).parquet(path)

  /** Per session: (path, each data file's (name, length, mtime), the
    * session's parquet confs) → the schema Spark inferred on the first
    * read. The file key re-resolves a table rewritten in place (the driver
    * once regenerated `events.ts` from ns to us); the conf key re-resolves
    * when a conf that changes inference (`nanosAsLong`,
    * `inferTimestampNTZ`, …) is set on the session; `newSession()` gets its
    * own map. Weak on the session, so a dropped session's map goes with it.
    */
  private val schemas =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[Any, StructType]]

  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val files = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listFiles(p, true)
    val stamps = Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
      .map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).toVector
    val confs = spark.conf.getAll.filter(_._1.contains("parquet"))
    val bySession = schemas.synchronized(
      schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap[Any, StructType]))
    bySession.computeIfAbsent((path, stamps, confs),
      _ => spark.read.parquet(path).schema)
  }

  /** The same table as a relation for SQL text (`FROM ${sqlFrom(d, "x")}`).
    * A query build reads its tables this way and never registers a temp
    * view, which would rebind the caller's view of the same name.
    */
  def sqlFrom(sfDir: String, name: String): String =
    s"parquet.`$sfDir/$name.parquet`"

  /** Lift scan parallelism to the session's core count before CPU-heavy
    * per-row work. The local testdata files have a single parquet row group,
    * so a scan is exactly one task — expression-heavy queries (from_json,
    * md5-based minhash) would otherwise run single-threaded on local[32].
    * At production scale a 100 TB table has thousands of row groups and the
    * scan parallelism already exceeds cores, so the repartition is a no-op
    * tradeoff decision: only apply where per-row compute dominates the
    * shuffle of the (narrow) projected columns.
    */
  def fanOut(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Size-adaptive [[fanOut]] (guide §2: derive partitioning from input
    * size, not a constant tuned for one scale): identity below
    * [[FanOutMinBytes]] of estimated plan output — for MODERATE per-row
    * work (one regex or sha2 pass, chunk slicing) the round-robin exchange
    * costs more than the serial map it spreads until the input is big
    * enough, and below the threshold the plan is exactly the pre-fanOut
    * one. Callers whose per-row work is extreme (md5 per token/shingle)
    * use the unconditional [[fanOut]] — there the exchange wins at every
    * measured scale.
    * Threshold 2 MB: sf0.1 documents estimates ~0.6 MB (serial map
    * ≤0.3 s), sf1 ~5.8 MB (serial map measured 0.9–2 s, r17).
    */
  def fanOutOver(df: DataFrame): DataFrame =
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes <= FanOutMinBytes) df
    else fanOut(df)

  private val FanOutMinBytes = 2L << 20

  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = t(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = t(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = t(s, d, "region")
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** Read `events` and normalize `ts` to LongType epoch-nanos — the engine's
    * canonical representation, regardless of the file's physical timestamp
    * encoding. The driver's generator has shipped both parquet timestamp[ns]
    * (rounds 1-7; Spark maps it to LongType via
    * `spark.sql.legacy.parquet.nanosAsLong=true`) and timestamp[us]
    * (2026-08-13 regeneration; Spark reads TIMESTAMP_NTZ). All downstream
    * bucket math is integer division on nanos (never double — 1.7e18 ns
    * exceeds double's 53-bit mantissa, see `Scalars.longDiv`) so DuckDB's
    * `epoch_ns(ts)` oracle agrees exactly for either encoding (epoch_ns of
    * a timestamp[us] value is the same nanos with trailing zeros).
    *
    * NTZ wall-clock → epoch requires a timezone; sessions pin
    * `spark.sql.session.timeZone=UTC` (asserted here), matching DuckDB's
    * naive-timestamps-are-UTC convention. `unix_micros * 1000` is exact
    * long arithmetic. Scale note: the conversion is a codegen'd projection
    * over the scan; comparison pushdown on the derived column is lost, but
    * every events query filters on `event_type`/derived buckets, and a
    * production 100 TB layout partitions by date (q96) where pruning
    * happens on the partition column, not raw `ts`.
    */
  /** Dirs whose events.ts magnitude has been sanity-checked this JVM. */
  private val tsMagnitudeChecked =
    scala.collection.concurrent.TrieMap.empty[String, Unit]

  /** An int64 ts column is trusted as epoch-NANOS — if a future driver
    * regeneration ships raw int64 epoch-micros/millis instead, the
    * pass-through would silently misbucket every time query by 1000×.
    * Guard: once per (JVM, dir), assert min(ts) sits in the epoch-ns
    * magnitude band (~2014..2100). One single-column agg job on first
    * use; skipped for empty tables.
    */
  private def assertNsMagnitude(dir: String, df: DataFrame): Unit =
    tsMagnitudeChecked.getOrElseUpdate(dir, {
      import org.apache.spark.sql.functions.min
      val r = df.agg(min("ts")).head()
      if (!r.isNullAt(0)) {
        val mn = r.getLong(0)
        require(mn > 1_400_000_000_000_000_000L &&
          mn < 4_100_000_000_000_000_000L,
          s"events.ts min=$mn is not epoch-nanos magnitude — the int64 " +
            "column is being misread (epoch-micros/millis file?); fix " +
            "Tables.events normalization for this encoding")
      }
    })

  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, unix_micros, lit}
    val df = t(s, d, "events")
    df.schema("ts").dataType match {
      case LongType =>
        // timestamp[ns] file + nanosAsLong=true (or raw int64 nanos):
        // already epoch-nanos — but verify the magnitude once per dir
        assertNsMagnitude(d, df)
        df
      case TimestampNTZType =>
        require(
          s.conf.getOption("spark.sql.session.timeZone").contains("UTC"),
          "events.ts is TIMESTAMP_NTZ: epoch normalization needs " +
            "spark.sql.session.timeZone=UTC on the session")
        df.withColumn(
          "ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case TimestampType =>
        df.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
      case other =>
        // timestamp[ns] parquet without the legacy conf fails inside the
        // scan with an inscrutable parquet error; surface the remedy here.
        throw new IllegalStateException(
          s"events.ts read as $other — for timestamp[ns] files build the " +
            "SparkSession with spark.sql.legacy.parquet.nanosAsLong=true")
    }
  }

  // ---------------------------------------------------------------------
  // Reference-table schemas (used by unit tests + CSV ingest paths).
  // rankings_v1: reference `rankings_data/rankings_en-ca_1.csv:1` header +
  // type docstring `rankings_generator.py:143-151`.
  // ---------------------------------------------------------------------
  val rankingsV1Schema: StructType = StructType(Seq(
    StructField("domain", StringType, nullable = false),
    StructField("date", DateType, nullable = false),
    StructField("term", StringType, nullable = false),
    StructField("url", StringType, nullable = true),
    StructField("rank", IntegerType, nullable = true),   // UInt8 1..100
    StructField("volume", LongType, nullable = false),   // UInt32
    StructField("cpc", DoubleType, nullable = false)
  ))

  /** ranking_urls: `Ranking` dataclass (`ranking_urls_generator.py:99-116`)
    * minus `url`, plus `url_prefix` (ingest derive, `ranking_urls_ingestor.py:57-59`).
    * The list columns hold no null element (ClickHouse `Array(String)`;
    * `RankingsPipelines.rankingUrlsTransform` splits strings into them).
    */
  val rankingUrlsSchema: StructType = StructType(Seq(
    StructField("domain", StringType, nullable = false),
    StructField("root_domain", StringType, nullable = true),
    StructField("date", DateType, nullable = false),
    StructField("url_bone", StringType, nullable = false),
    StructField("url_prefix", StringType, nullable = true),
    StructField("term", StringType, nullable = false),
    StructField("rank", IntegerType, nullable = false),
    StructField("volume", LongType, nullable = false),
    StructField("cpc", DoubleType, nullable = false),
    StructField("competition", DoubleType, nullable = false),
    StructField("category_strings",
      ArrayType(StringType, containsNull = false), nullable = false),
    StructField("mm_difficulty", DoubleType, nullable = false),
    StructField("traffic", DoubleType, nullable = false),
    StructField("traffic_pct", DoubleType, nullable = false),
    StructField("serp_features",
      ArrayType(StringType, containsNull = false), nullable = false),
    StructField("results_count", LongType, nullable = false)
  ))

  /** CSV ingest of rankings_v1 shards — the Spark realization of the
    * reference's `clickhouse-client INSERT ... FORMAT CSV` loop
    * (`ingest.py:14-19`): positional columns against a declared schema,
    * FAILFAST mirroring `types_check`.
    */
  def readRankingsCsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(rankingsV1Schema)
      .option("header", "true")
      .option("mode", "FAILFAST")
      .csv(path)

  /** S3 string-buffer CSV: the reference downloads an S3 object and parses
    * CSV straight from the in-memory buffer
    * (`ranking_urls_generator.py:197-199` — `csv.reader(io.StringIO(body))`).
    * Spark-first form: the lines live in a `Dataset[String]` (one element
    * per CSV line, however they got into memory — an S3 GET, a message
    * queue, a generator) and `DataFrameReader.csv(Dataset[String])` parses
    * them against the declared schema with the same FAILFAST discipline as
    * the file path — distributed, no temp-file round trip.
    */
  def readRankingsCsvBuffer(
      spark: SparkSession,
      lines: Dataset[String]): DataFrame =
    spark.read
      .schema(rankingsV1Schema)
      .option("header", "true")
      .option("mode", "FAILFAST")
      .csv(lines)
}
