package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{Materialize, Scalars}

/** Incremental materialized-aggregate maintenance for EXACT measures —
  * the AggregatingMergeTree / materialized-view analog of the reference's
  * engine (ClickHouse 23.4, `docker-compose.yml:4`): a persisted
  * `(event_type, day)` partial-state table that per-batch folds maintain
  * and every rollup consumer reads INSTEAD of rescanning raw facts. The
  * repo proves the maintained-artifact pattern for sketches (q108 HLL
  * registers) and indexes (X27 dedup bands / X29 ANN cells); this is the
  * same pattern for plain measures — the way a 100 TB warehouse serves
  * count/sum/min/max/OHLC dashboards without a raw-fact scan per query.
  *
  * The state row carries, per (event_type, day):
  *   - `n`      exact event count (BIGINT — sums associatively),
  *   - `vol`    exact value sum as DECIMAL(28,2) (the Scalars.moneySum
  *              discipline — exact cents, so the fold order can never flip
  *              a cent; double-sum partials would be
  *              accumulation-order-dependent and break the fold-vs-scratch
  *              bit-identity this pipeline guarantees. moneySum itself
  *              sums unscaled cents in a LONG; this persisted state keeps
  *              a decimal column, which holds ±1e26 cents — far past 100 TB
  *              of prices; Spark widens the merge buffer to (38,2) and the
  *              cast back is lossless inside that window),
  *   - `low`/`high`  min/max (associative as-is),
  *   - `open`/`open_ord`, `close`/`close_ord`  the value at the bucket's
  *     first/last event under the (ts, event_id) total order (q98's
  *     zero-padded key). Keeping the ORD alongside the value is what
  *     makes argMin/argMax mergeable: merging two partials takes the
  *     value whose ord is smaller/larger — ClickHouse's
  *     argMinState/argMaxState carry exactly this pair.
  *
  * Every aggregate here is associative with constant-size partial state,
  * so `merge(dayPartials(A) ∪ dayPartials(B)) = dayPartials(A ∪ B)`
  * bit-for-bit, whatever the batch split — `AggPipelineSpec` proves it
  * over a 3-batch fold, and the streaming twin (`StreamingSpec` X97s)
  * folds micro-batches through `addBatch` via foreachBatch to the same
  * table. Consumers derive q204 (OHLC), q197 (weekday seasonality), and
  * q199 (burstiness Fano) from the maintained table alone — parity with
  * the from-raw declared queries is spec-pinned — and coarser grains
  * (weekly/monthly/total) RE-AGGREGATE from the daily state via
  * [[regrain]], never from raw facts.
  *
  * Scale shape: per-batch cost is one batch-sized partial agg plus a
  * merge against the types×days-sized state table (≪ corpus — rewriting
  * it whole per fold is the DedupPipeline labels discipline; a production
  * run writes it as one parquet snapshot per fold). Consumers never touch
  * the raw facts: q213's declared plan is gated scan-free of events
  * parquet (PlanSpec).
  */
object AggPipeline {

  /** Day index from epoch-micros (q204's bucket contract). */
  private val UsPerDay = 86400000000L

  private val stateSchema = StructType(Seq(
    StructField("event_type", StringType),
    StructField("day", LongType),
    StructField("n", LongType),
    StructField("vol", DecimalType(28, 2)),
    StructField("low", DoubleType),
    StructField("high", DoubleType),
    StructField("open_ord", StringType),
    StructField("open", DoubleType),
    StructField("close_ord", StringType),
    StructField("close", DoubleType)))

  def emptyState(s: SparkSession): DataFrame =
    s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), stateSchema)

  /** First-level fold: raw events → per-(event_type, day) partial state.
    * The ord key is projected BEFORE the groupBy (agg expressions do not
    * share subexpressions across columns — the q166 discipline; four
    * aggs consume it).
    */
  def dayPartials(ev: DataFrame): DataFrame =
    ev.withColumn("ts_us", Scalars.longDiv("ts", 1000L))
      .select(col("event_type"),
        expr(s"ts_us DIV $UsPerDay").as("day"),
        format_string("%020d-%020d", col("ts_us"), col("event_id"))
          .as("ord"),
        col("value"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2)))
          .cast(DecimalType(28, 2)).as("vol"),
        min("value").as("low"), max("value").as("high"),
        min("ord").as("open_ord"),
        min_by(col("value"), col("ord")).as("open"),
        max("ord").as("close_ord"),
        max_by(col("value"), col("ord")).as("close"))

  /** Merge partial-state rows sharing a (event_type, day) key — the
    * AggregatingMergeTree part merge. Exact for every column: counts and
    * decimal sums add, min/max fold, argMin/argMax take the value at the
    * extreme ord (ords are unique — they embed event_id — so ties cannot
    * arise and min_by is deterministic).
    */
  def merge(parts: DataFrame): DataFrame =
    parts.groupBy("event_type", "day")
      .agg(sum("n").as("n"),
        sum("vol").cast(DecimalType(28, 2)).as("vol"),
        min("low").as("low"), max("high").as("high"),
        min("open_ord").as("open_ord"),
        min_by(col("open"), col("open_ord")).as("open"),
        max("close_ord").as("close_ord"),
        max_by(col("close"), col("close_ord")).as("close"))

  /** Fold one new batch of raw events into the state WITHOUT rescanning
    * prior facts: one batch-sized partial agg, one merge against the
    * types×days-sized state. Batches must partition the stream
    * (exactly-once delivery — AvailableNow file replay or an idempotent
    * upstream); a re-delivered batch would double-count, exactly as it
    * would in ClickHouse's MV insert path. The cut is the
    * production parquet-snapshot cut point (DedupPipeline discipline).
    */
  def addBatch(state: DataFrame, batch: DataFrame): DataFrame =
    merge(state.unionByName(dayPartials(batch))).transform(Materialize.cut)

  /** The declared standalone simulation shape (q112's convention): the
    * stream arrives as `n` batches split by `event_id mod n`; each fold
    * consumes one slice.
    */
  def foldBatches(ev: DataFrame, n: Int): DataFrame =
    (0 until n).foldLeft(emptyState(ev.sparkSession)) { (st, i) =>
      addBatch(st, ev.filter(pmod(col("event_id"), lit(n)) === i))
    }

  /** The fold's state table persisted ONCE per corpus dir via
    * [[graft.ops.LayoutCache]] (the q112/q115 maintained-artifact
    * contract): built by a 3-batch fold on first touch, read as parquet
    * by every consumer after. Fold-vs-scratch bit-identity is pinned by
    * AggPipelineSpec, so serving consumers from this table is exactly
    * serving them from the raw facts — minus the corpus scan.
    */
  def cachedState(s: SparkSession, d: String, n: Int = 3): DataFrame = {
    val h = graft.ops.LayoutCache.sourceKey(d)
    val p = graft.ops.LayoutCache.installOnce(s, s"agg_mv_state_n${n}_$h") {
      tmp => foldBatches(graft.Tables.events(s, d), n).write.parquet(tmp)
    }
    graft.Tables.parquet(s, p)
  }

  // ---- derived rollups (consumers of the maintained table) -----------------

  /** q204's exact output shape from the state table — the OHLC dashboard
    * read with no fact scan.
    */
  def ohlc(state: DataFrame): DataFrame =
    state.select(col("event_type"), col("day"),
      col("open"), col("high"), col("low"), col("close"),
      col("n").as("n_events"), col("vol").cast("double").as("vol"))

  /** Coarser-grain partial state by RE-AGGREGATING the daily state —
    * `day DIV days` buckets (7 = weekly aligned to the epoch week, 30 =
    * monthly-ish). Output is again partial state (same schema, coarser
    * key), so grains compose: weekly from daily, monthly from weekly.
    * Exact by the same associativity argument — in particular the coarse
    * bucket's open is the open of its earliest-ord day, which holds
    * because a day's min ord IS the day's open_ord.
    */
  def regrain(state: DataFrame, days: Int): DataFrame =
    merge(state.withColumn("day", expr(s"day DIV $days")))
}
