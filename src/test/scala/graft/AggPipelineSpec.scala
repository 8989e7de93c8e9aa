package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipelines.AggPipeline

/** X97 maintained aggregate state: the per-batch fold must be
  * BIT-IDENTICAL to the from-scratch aggregation whatever the batch split
  * (every partial is associative with constant state — the
  * AggregatingMergeTree contract), rollup consumers derived from the
  * state must equal the declared from-raw queries (q204/q197/q199), and
  * coarser grains must compose exactly (monthly-from-weekly ==
  * monthly-from-daily).
  */
class AggPipelineSpec extends SparkSpec {

  private def ev = Tables.events(spark, sf)

  /** The (event_type, day, n) daily-count table the q197/q199/q219
    * consumers take, read off the maintained state.
    */
  private def dailyCounts(state: DataFrame): DataFrame =
    state.select(col("event_type"), col("day"), col("n"))

  private def canon(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted.toIndexedSeq
    df.select(cols.map(col): _*).collect()
      .map(_.toString).sorted.toIndexedSeq
  }

  test("fold-vs-scratch bit-identity: a 3-batch fold equals the one-shot " +
      "aggregation row for row, column for column") {
    val folded = AggPipeline.foldBatches(ev, 3)
    val scratch = AggPipeline.merge(AggPipeline.dayPartials(ev))
    assert(folded.schema == scratch.schema,
      s"fold changed the state schema:\n${folded.schema}\n${scratch.schema}")
    val f = canon(folded)
    val s = canon(scratch)
    assert(f.nonEmpty && f == s,
      s"fold diverged from scratch: ${f.diff(s).take(3)}")
  }

  test("fold is split-invariant: 2-batch and 5-batch folds agree") {
    assert(canon(AggPipeline.foldBatches(ev, 2)) ==
      canon(AggPipeline.foldBatches(ev, 5)))
  }

  test("q204 parity: the OHLC rollup derived from the maintained state " +
      "equals the declared from-raw query") {
    val st = AggPipeline.merge(AggPipeline.dayPartials(ev))
    val derived = AggPipeline.ohlc(st).orderBy("event_type", "day")
      .collect().map(_.toString).toSeq
    val declared = Queries.byName("q204_ohlc_downsample").build(spark, sf)
      .collect().map(_.toString).toSeq
    assert(derived.nonEmpty && derived == declared)
  }

  test("q197 parity: weekday seasonality derived from the maintained " +
      "state equals the declared from-raw query") {
    val st = AggPipeline.merge(AggPipeline.dayPartials(ev))
    val derived = QueriesTime.seasonalityFromDaily(
        dailyCounts(st))
      .collect().map(_.toString).toSeq
    val declared = Queries.byName("q197_weekday_seasonality")
      .build(spark, sf).collect().map(_.toString).toSeq
    assert(derived.nonEmpty && derived == declared)
  }

  test("q199 parity: burstiness Fano derived from the maintained state " +
      "equals the declared from-raw query") {
    val st = AggPipeline.merge(AggPipeline.dayPartials(ev))
    val derived = QueriesTime.fanoFromDaily(dailyCounts(st))
      .collect().map(_.toString).toSeq
    val declared = Queries.byName("q199_burstiness_fano").build(spark, sf)
      .collect().map(_.toString).toSeq
    assert(derived.nonEmpty && derived == declared)
  }

  test("q219 parity: the trend line derived from the maintained state " +
      "equals the declared from-raw query") {
    val st = AggPipeline.merge(AggPipeline.dayPartials(ev))
    val derived = QueriesTime.trendFromDaily(dailyCounts(st))
      .collect().map(_.toString).toSeq
    val declared = Queries.byName("q219_trend_line").build(spark, sf)
      .collect().map(_.toString).toSeq
    assert(derived.nonEmpty && derived == declared)
  }

  test("trendFromDaily hand-derived: exact rising and falling slopes, " +
      "sign-split division, truncated intercept, single-day filtered") {
    import spark.implicits._
    val daily = Seq(
      ("up", 100L, 10L), ("up", 101L, 20L), ("up", 102L, 30L),
      ("dn", 100L, 30L), ("dn", 101L, 20L), ("dn", 102L, 10L),
      ("tr", 100L, 12L), ("tr", 101L, 11L), ("tr", 102L, 9L),
      ("solo", 100L, 7L)).toDF("event_type", "day", "n")
    val got = QueriesTime.trendFromDaily(daily)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getInt(5))).toSeq
    // up: slope 10/day -> 10e6 ppm, intercept 10 -> 10000 milli
    // dn: slope -10/day, intercept 30
    // tr: det 6, slope_num -9 -> -1500000 exact; icept_num 73 ->
    //     73000 DIV 6 = 12166 (truncated)
    // solo: nd = 1, filtered
    assert(got == Seq(
      ("dn", 3L, 60L, -10000000L, 30000L, 0),
      ("tr", 3L, 32L, -1500000L, 12166L, 0),
      ("up", 3L, 60L, 10000000L, 10000L, 1)))
  }

  test("grains compose exactly: monthly-from-weekly equals " +
      "monthly-from-daily (28-day buckets)") {
    val st = AggPipeline.merge(AggPipeline.dayPartials(ev))
    val viaWeekly = AggPipeline.regrain(AggPipeline.regrain(st, 7), 4)
    val direct = AggPipeline.regrain(st, 28)
    assert(canon(viaWeekly) == canon(direct))
  }

  test("cached state serves the declared q213 weekly rollup equal to a " +
      "fresh from-raw weekly aggregation") {
    val declared = Queries.byName("q213_agg_mv").build(spark, sf)
      .collect().map(_.toString).toSeq
    val scratch = AggPipeline.ohlc(AggPipeline.regrain(
        AggPipeline.merge(AggPipeline.dayPartials(ev)), 7))
      .withColumnRenamed("day", "week")
      .orderBy("event_type", "week")
      .collect().map(_.toString).toSeq
    assert(declared.nonEmpty && declared == scratch)
  }

  test("declared q223 monthly-from-weekly rollup equals a from-scratch " +
      "28-day aggregation (the composed-grain read)") {
    val declared = Queries.byName("q223_agg_mv_monthly").build(spark, sf)
      .collect().map(_.toString).toSeq
    val scratch = AggPipeline.ohlc(AggPipeline.regrain(
        AggPipeline.merge(AggPipeline.dayPartials(ev)), 28))
      .withColumnRenamed("day", "p28")
      .orderBy("event_type", "p28")
      .collect().map(_.toString).toSeq
    assert(declared.nonEmpty && declared == scratch)
  }
}
