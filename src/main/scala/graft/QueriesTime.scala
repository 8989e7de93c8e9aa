package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{LayoutCache, Scalars}

/** Time-series OLAP tier over the `events` stream table — the analytics a
  * rankings time-series (date-grained facts, SURVEY.md §1.1) delegates to
  * its warehouse: continuous date spines with gap-fill, time-bucketed
  * distincts, day-over-day retention, and ordered funnels.
  *
  * `events.ts` is normalized by Tables.events to LongType epoch-nanos
  * from WHATEVER physical encoding the driver's generator shipped
  * (int64 / timestamp[ns] / timestamp[us] NTZ or tz — see its scaladoc);
  * all bucket math here is integer division on the nanos — never double
  * math, 1.7e18 exceeds double's 53-bit mantissa — so DuckDB's
  * `epoch_ns(ts)` agrees exactly.
  *
  * Scale notes:
  *  - The date spine (q76) is generated, not scanned: sequence+explode of
  *    a bounded literal range is O(days), joined broadcast against the
  *    aggregated (already small) daily counts.
  *  - Retention (q78) self-joins the *deduplicated* (user, day) set — at
  *    100 TB the dedup shrinks the join input by the per-user event rate
  *    (here 67×) before any shuffle pairing.
  *  - The funnel (q79) is one partial+final agg per user (min per type via
  *    conditional min), then a single count — no per-step joins.
  */
object QueriesTime {
  import Tables._

  private val NsPerDay = 86400000000000L
  private val NsPerHour = 3600000000000L

  /** Event day as a DateType via epoch-day integral division
    * (Scalars.longDiv — `Column./` would round the nanos as a double).
    */
  private def eventDay(ns: String): org.apache.spark.sql.Column =
    date_add(lit("1970-01-01").cast("date"),
      Scalars.longDiv(ns, NsPerDay).cast("int"))

  /** Hive-style date-partitioned layout of `events` backing q96 — the
    * 100 TB fact-table layout: `day=YYYY-MM-DD/` directories so a date
    * predicate prunes whole partitions at PLANNING time (PartitionFilters),
    * before any file or footer is touched. `repartition(day)` ahead of the
    * write gives one file per partition directory instead of
    * numShufflePartitions small files per day — the small-file explosion
    * that kills listing/scan at scale. Built on first touch and installed
    * atomically by LayoutCache, keyed on the source content.
    */
  private[graft] def dayPartitionedEvents(s: SparkSession, d: String): String = {
    val h = LayoutCache.sourceKey(d)
    LayoutCache.installOnce(s, s"p96_events_$h") { tmp =>
      events(s, d)
        .withColumn("day", eventDay("ts"))
        .repartition(col("day"))
        .write.partitionBy("day").parquet(tmp)
    }
  }

  val all: Seq[Q] = Seq(

    // T9 continuous date spine + gap-fill: generated calendar left-joined
    // against daily counts; days past the data window surface as zeros
    // (the reporting shape LIMIT/OFFSET paging cannot give you).
    Q("q76_date_spine",
      (s, d) => {
        val spine = s.range(1)
          .select(explode(sequence(
            lit("2024-01-01").cast("date"),
            lit("2024-02-05").cast("date"),
            expr("interval 1 day"))).as("day"))
        val daily = events(s, d)
          .groupBy(eventDay("ts").as("day"))
          .agg(count(lit(1)).as("n"))
        spine.join(daily, Seq("day"), "left")
          .select(col("day"), coalesce(col("n"), lit(0L)).as("n_events"))
          .orderBy("day")
      },
      Some("""WITH spine AS (
             |  SELECT CAST(unnest(generate_series(DATE '2024-01-01',
             |    DATE '2024-02-05', INTERVAL 1 DAY)) AS DATE) AS day),
             |daily AS (
             |  SELECT DATE '1970-01-01'
             |      + CAST(epoch_ns(ts) // 86400000000000 AS INT) AS day,
             |    CAST(count(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1)
             |SELECT spine.day, coalesce(daily.n, 0) AS n_events
             |FROM spine LEFT JOIN daily ON spine.day = daily.day
             |ORDER BY spine.day""".stripMargin)),

    // T10 time-bucketed exact distincts: hourly active users + event
    // volume. Bucket key is epoch-hours (integer division on nanos).
    Q("q77_hourly_uniques",
      (s, d) => events(s, d)
        .groupBy(Scalars.longDiv("ts", NsPerHour).as("epoch_hour"))
        .agg(countDistinct(col("user_id")).as("uniq_users"),
          count(lit(1)).as("n_events"))
        .orderBy("epoch_hour"),
      Some("""SELECT epoch_ns(ts) // 3600000000000 AS epoch_hour,
             |  CAST(count(DISTINCT user_id) AS BIGINT) AS uniq_users,
             |  CAST(count(*) AS BIGINT) AS n_events
             |FROM events GROUP BY 1 ORDER BY epoch_hour""".stripMargin)),

    // T11 day-over-day retention: users active on day d AND d+1. The
    // self-join runs on the deduplicated (user, day) activity set.
    Q("q78_retention",
      (s, d) => {
        val du = events(s, d)
          .select(col("user_id"),
            Scalars.longDiv("ts", NsPerDay).as("day"))
          .distinct()
        val nxt = du.select(col("user_id"),
          (col("day") - 1).as("day"))
        du.join(nxt, Seq("user_id", "day"))
          .groupBy("day")
          .agg(count(lit(1)).as("retained"))
          .orderBy("day")
      },
      Some("""WITH du AS (
             |  SELECT DISTINCT user_id,
             |    epoch_ns(ts) // 86400000000000 AS day FROM events)
             |SELECT a.day, CAST(count(*) AS BIGINT) AS retained
             |FROM du a JOIN du b
             |  ON a.user_id = b.user_id AND b.day = a.day + 1
             |GROUP BY a.day ORDER BY a.day""".stripMargin)),

    // T12 ordered funnel: users whose first signup precedes their first
    // purchase — conditional min per user in one agg pass, then a count.
    // Nanos compare as BIGINT end-to-end (> 2^53, so never as double).
    Q("q79_event_funnel",
      (s, d) => events(s, d)
        .groupBy("user_id")
        .agg(
          min(when(col("event_type") === "signup", col("ts"))).as("t_signup"),
          min(when(col("event_type") === "purchase", col("ts")))
            .as("t_purchase"))
        .agg(
          count(col("t_signup")).as("n_signup"),
          count(col("t_purchase")).as("n_purchase"),
          count(when(col("t_signup") < col("t_purchase"), lit(1)))
            .as("n_converted")),
      Some("""WITH u AS (
             |  SELECT user_id,
             |    min(CASE WHEN event_type = 'signup'
             |        THEN epoch_ns(ts) END) AS t_signup,
             |    min(CASE WHEN event_type = 'purchase'
             |        THEN epoch_ns(ts) END) AS t_purchase
             |  FROM events GROUP BY user_id)
             |SELECT CAST(count(t_signup) AS BIGINT) AS n_signup,
             |  CAST(count(t_purchase) AS BIGINT) AS n_purchase,
             |  CAST(count(CASE WHEN t_signup < t_purchase THEN 1 END)
             |    AS BIGINT) AS n_converted
             |FROM u""".stripMargin)),

    // T13 backward as-of join (ops/AsofJoin scaladoc for the merge-form
    // rationale): each purchase joined to the user's latest view at or
    // before it — the quote-for-trade / state-at-event-time operator. The
    // right side is pre-aggregated unique per (user, ts) with max_by on the
    // unique event_id (the operator's tie contract), which both engines
    // replay deterministically. Left asof: first-ever purchases keep null
    // view columns. Oracle is DuckDB's native ASOF LEFT JOIN on the same
    // inclusive (>=) semantics.
    Q("q95_asof_join",
      (s, d) => {
        // Times quantized to MICROS on both engines before the join:
        // DuckDB's parquet reader coerces the ns timestamps to µs, so raw
        // ns would diverge in the dump (and, on a same-µs tie, in the
        // match). Integer division on the nanos — never double (§7.5).
        val ev = events(s, d)
          .withColumn("ts", Scalars.longDiv("ts", 1000L))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("p_id"), col("ts"))
        val views = ev.filter(col("event_type") === "view")
          .groupBy("user_id", "ts")
          .agg(max_by(col("value"), col("event_id")).as("value"))
        ops.AsofJoin.backward(purchases, views, "user_id", "ts",
          timeOut = "v_ts", payloadCol = "value", payloadOut = "v_value")
          .select(col("user_id"), col("p_id"), col("ts").as("p_ts"),
            col("v_ts"), col("v_value"))
          // p_id is the events PK, so the order is already total; the full
          // tuple stays per the §7.5 row-dump discipline.
          .orderBy("user_id", "p_id", "p_ts", "v_ts", "v_value")
      },
      Some("""WITH v AS (
             |  SELECT user_id, epoch_us(ts) AS ts,
             |         max_by(value, event_id) AS v_value
             |  FROM events WHERE event_type = 'view'
             |  GROUP BY user_id, epoch_us(ts)),
             |p AS (
             |  SELECT user_id, event_id AS p_id, epoch_us(ts) AS p_ts
             |  FROM events WHERE event_type = 'purchase')
             |SELECT p.user_id, p.p_id, p.p_ts, v.ts AS v_ts, v.v_value
             |FROM p ASOF LEFT JOIN v
             |  ON p.user_id = v.user_id AND p.p_ts >= v.ts
             |ORDER BY p.user_id, p_id, p_ts, v_ts, v_value""".stripMargin)),

    // T14 partition-pruned scan over the date-partitioned fact layout
    // (dayPartitionedEvents scaladoc): a one-week report that reads 7 of
    // 30 partition directories — the predicate resolves against directory
    // NAMES at planning time (PartitionFilters in the scan, plan-gated
    // with file-count metrics), so at 100 TB a day-ranged query costs
    // days-touched, not corpus size. Counts only (no double sums — an
    // accumulation-order-dependent sum(value) would flake at sf1, §7.5).
    // Oracle replays the day derivation on the unpartitioned table.
    Q("q96_partition_prune",
      (s, d) => {
        val path = dayPartitionedEvents(s, d)
        s.read.parquet(path)
          .filter(col("day") >= lit("2024-01-08").cast("date") &&
            col("day") <= lit("2024-01-14").cast("date"))
          .groupBy("day", "event_type")
          .agg(count(lit(1)).as("n"),
            countDistinct(col("user_id")).as("uniq_users"))
          .orderBy("day", "event_type")
      },
      Some("""SELECT CAST(ts AS DATE) AS day, event_type,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(count(DISTINCT user_id) AS BIGINT) AS uniq_users
             |FROM events
             |WHERE CAST(ts AS DATE)
             |  BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
             |GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin)),

    // T15 aggregation-form argmax — latest event per user in ONE partial+
    // final agg pass (ClickHouse `argMax(x, ord)` / SCD "current state"
    // read). The scale contrast to q93's window-form argmax: max_by
    // carries a single (ord, value) pair through the map-side combine, so
    // the shuffle is one row per (user, column) — no per-partition sort,
    // no WindowGroupLimit needed, and the plan has no Window node at all
    // (plan-gated). The ordering key is tie-proofed by appending the
    // unique event_id to the µs time as a fixed-width string — max_by on
    // a tied ordinal is engine-nondeterministic otherwise (§7.5
    // discipline; DuckDB arg_max has no composite-key overload, so both
    // engines order on the identical printf rendering). Times quantized
    // to µs first: DuckDB's parquet reader coerces the ns column (q95).
    Q("q98_argmax_latest",
      (s, d) => {
        val ev = events(s, d)
          .withColumn("ts", Scalars.longDiv("ts", 1000L))
        val ord = format_string("%020d-%020d", col("ts"), col("event_id"))
        ev.groupBy("user_id")
          .agg(
            max_by(col("event_id"), ord).as("last_event_id"),
            max_by(col("event_type"), ord).as("last_type"),
            max_by(col("value"), ord).as("last_value"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id,
             |  arg_max(event_id,
             |    printf('%020d-%020d', epoch_us(ts), event_id))
             |    AS last_event_id,
             |  arg_max(event_type,
             |    printf('%020d-%020d', epoch_us(ts), event_id))
             |    AS last_type,
             |  arg_max(value,
             |    printf('%020d-%020d', epoch_us(ts), event_id))
             |    AS last_value
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // T16 time-proximity interval join, binned to an equi-join — "views
    // within ±1 h of each purchase", a large×large NON-equi time join
    // (no shared key: any user's view counts). Naive Spark plans this as
    // BroadcastNestedLoopJoin — O(|P|·|V|) comparisons, the 100 TB
    // killer. The binned form is the Flink-interval-join shape: each view
    // lands in its own 1 h bin, each purchase probes [bin-1, bin, bin+1]
    // (a 3× explode of the SMALLER side only), the join becomes an
    // equi-join on the bin key, and the exact |Δt| ≤ 1 h predicate
    // filters inside it. Every qualifying pair meets in exactly one bin
    // (the view's own), so counts need no dedup. Plan-gated: no
    // BroadcastNestedLoopJoin / CartesianProduct. Left join keeps
    // zero-view purchases. Oracle is DuckDB's native theta join (its
    // IEJoin handles the non-equi form directly at test scale).
    Q("q99_interval_join",
      (s, d) => {
        val HourUs = 3600000000L
        val ev = events(s, d)
          .withColumn("ts", Scalars.longDiv("ts", 1000L))
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("ts").as("p_ts"))
        val v = ev.filter(col("event_type") === "view")
          .select(col("event_id").as("v_id"), col("ts").as("v_ts"))
        val pb = p.withColumn("probe",
          explode(array(lit(-1L), lit(0L), lit(1L))))
          .withColumn("bin", expr(s"p_ts DIV ${HourUs}L") + col("probe"))
        val vb = v.withColumn("bin", expr(s"v_ts DIV ${HourUs}L"))
        pb.join(vb,
            pb("bin") === vb("bin") &&
              vb("v_ts") >= pb("p_ts") - HourUs &&
              vb("v_ts") <= pb("p_ts") + HourUs,
            "left")
          .groupBy("p_id", "p_ts")
          .agg(count(col("v_id")).as("nearby_views"))
          .orderBy("p_id")
      },
      Some("""WITH e AS (SELECT event_id, event_type, epoch_us(ts) AS ts
             |          FROM events),
             |p AS (SELECT event_id AS p_id, ts AS p_ts FROM e
             |      WHERE event_type = 'purchase'),
             |v AS (SELECT event_id AS v_id, ts AS v_ts FROM e
             |      WHERE event_type = 'view')
             |SELECT p.p_id, p.p_ts,
             |  CAST(count(v.v_id) AS BIGINT) AS nearby_views
             |FROM p LEFT JOIN v
             |  ON v.v_ts BETWEEN p.p_ts - 3600000000
             |             AND p.p_ts + 3600000000
             |GROUP BY p.p_id, p.p_ts ORDER BY p_id""".stripMargin)),

    // T17 hopping (sliding) window aggregation, batch form — the exact
    // batch twin of Structured Streaming's window(ts, "1 hour", "15
    // minutes"): every event contributes to window/slide = 4 overlapping
    // epoch-aligned windows. Relational shape: explode over the 4 window
    // OFFSETS (a 4× row expansion of offsets, not a self-join), derive
    // each window start by integer division on the µs time, then one
    // partial+final agg keyed by window start. q39's tumbling window is
    // the slide=window degenerate case. At 100 TB the expansion factor
    // is the (constant) window/slide ratio and the shuffle key is the
    // window start — uniform by construction, no hot key.
    Q("q100_hopping_window",
      (s, d) => {
        val SlideUs = 900000000L // 15 min
        val ev = events(s, d)
          .withColumn("ts", Scalars.longDiv("ts", 1000L))
        ev.select(col("user_id"), col("ts"),
            explode(sequence(lit(0L), lit(3L))).as("j"))
          .select(col("user_id"),
            ((expr(s"ts DIV ${SlideUs}L") - col("j")) * SlideUs)
              .as("win_start"))
          .groupBy("win_start")
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("uniq_users"))
          .orderBy("win_start")
      },
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS ts FROM events),
             |h AS (SELECT user_id,
             |        (ts // 900000000 - j) * 900000000 AS win_start
             |      FROM e, unnest(range(4)) AS u(j))
             |SELECT win_start, CAST(count(*) AS BIGINT) AS n_events,
             |  CAST(count(DISTINCT user_id) AS BIGINT) AS uniq_users
             |FROM h GROUP BY win_start ORDER BY win_start""".stripMargin)),

    // T18 FORWARD as-of join — each purchase joined to the user's earliest
    // view at-or-after it (next-touch attribution; q95 is the backward
    // twin and ops/AsofJoin.forward the shared merge form with reversed
    // traversal). Same µs quantization, tie, and dump discipline as q95.
    Q("q101_asof_forward",
      (s, d) => {
        val ev = events(s, d)
          .withColumn("ts", Scalars.longDiv("ts", 1000L))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("p_id"), col("ts"))
        val views = ev.filter(col("event_type") === "view")
          .groupBy("user_id", "ts")
          .agg(max_by(col("value"), col("event_id")).as("value"))
        ops.AsofJoin.forward(purchases, views, "user_id", "ts",
          timeOut = "v_ts", payloadCol = "value", payloadOut = "v_value")
          .select(col("user_id"), col("p_id"), col("ts").as("p_ts"),
            col("v_ts"), col("v_value"))
          .orderBy("user_id", "p_id", "p_ts", "v_ts", "v_value")
      },
      Some("""WITH v AS (
             |  SELECT user_id, epoch_us(ts) AS ts,
             |         max_by(value, event_id) AS v_value
             |  FROM events WHERE event_type = 'view'
             |  GROUP BY user_id, epoch_us(ts)),
             |p AS (
             |  SELECT user_id, event_id AS p_id, epoch_us(ts) AS p_ts
             |  FROM events WHERE event_type = 'purchase')
             |SELECT p.user_id, p.p_id, p.p_ts, v.ts AS v_ts, v.v_value
             |FROM p ASOF LEFT JOIN v
             |  ON p.user_id = v.user_id AND p.p_ts <= v.ts
             |ORDER BY p.user_id, p_id, p_ts, v_ts, v_value""".stripMargin)),

    // T19 gaps-and-islands: longest consecutive-day purchase streak per
    // user (the loyalty/retention-streak report; complements q78's
    // day-over-day retention with full-run-length analytics). Classic
    // island key: day − row_number() over (user ORDER BY day) is constant
    // within each unbroken run. Like q78, everything downstream of the
    // first dedup runs on the (user, day) set — the per-user event rate
    // (67× here) is shed before any window or shuffle, and the window is
    // user-partitioned (bounded by the 30-day span, parallel across
    // users).
    Q("q102_streaks",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("day")
        events(s, d)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"),
            Scalars.longDiv("ts", NsPerDay).as("day"))
          .distinct()
          .withColumn("grp", col("day") - row_number().over(w))
          .groupBy("user_id", "grp")
          .agg(count(lit(1)).as("len"))
          .groupBy("user_id")
          .agg(max(col("len")).as("longest_streak"),
            count(lit(1)).as("n_streaks"))
          .orderBy("user_id")
      },
      Some("""WITH du AS (
             |  SELECT DISTINCT user_id,
             |    epoch_ns(ts) // 86400000000000 AS day
             |  FROM events WHERE event_type = 'purchase'),
             |isl AS (
             |  SELECT user_id, day,
             |    day - row_number() OVER (PARTITION BY user_id
             |      ORDER BY day) AS grp
             |  FROM du),
             |st AS (
             |  SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len
             |  FROM isl GROUP BY user_id, grp)
             |SELECT user_id, max(len) AS longest_streak,
             |  CAST(count(*) AS BIGINT) AS n_streaks
             |FROM st GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // T14 mergeable-sketch distinct-count rollup — the Spark form of
    // ClickHouse `uniqState` / `uniqMerge` (AggregatingMergeTree), the
    // reference warehouse's pre-aggregation idiom: store a per-day HLL
    // SKETCH of user ids, answer any coarser grain by MERGING sketches —
    // never re-reading raw events. `approx_count_distinct` can't do this
    // (its estimate is final); `hll_sketch_agg` state is re-aggregable,
    // so the daily cube costs one raw scan forever. Day rows carry the
    // exact distinct next to the estimate as the audit column (the exact
    // side is the thing this pattern EXISTS to avoid at 100 TB — a
    // per-day cube of exact distinct sets is O(users·days) state);
    // day = -1 is the merged-total row, estimated purely from the 3
    // daily sketches. No-oracle by design (Datasketches binary images
    // are engine-specific); HllRollupSpec proves merge-vs-direct
    // equality and estimate accuracy.
    Q("q108_hll_rollup",
      (s, d) => {
        val ev = events(s, d)
          .select(Scalars.longDiv("ts", NsPerDay).as("day"),
            col("user_id"))
        // lgConfigK = 14 (2^14 buckets, ~8 KB HLL_4 image): RSE ≈
        // 1.04/√2^14 ≈ 0.8%, so the declared ≤2% audit band is ≥2.5σ at
        // ANY cardinality — the default lgK=12 (1.6% RSE) holds 2% only
        // while the sketch is in its small-cardinality exact-coupon
        // regime, and breached it at sf1's ~13k uniques/day. Sketch size
        // is the knob that buys the accuracy contract; 8 KB per (day)
        // group is still nothing at a 100 TB daily cube.
        val daily = ev.groupBy("day")
          .agg(hll_sketch_agg(col("user_id"), 14).as("sk"),
            countDistinct(col("user_id")).as("uniq_exact"))
        val perDay = daily.select(col("day"),
          hll_sketch_estimate(col("sk")).as("uniq_est"),
          col("uniq_exact"))
        val total = daily
          .agg(hll_sketch_estimate(hll_union_agg(col("sk")))
            .as("uniq_est"))
          .crossJoin(broadcast(
            ev.agg(countDistinct(col("user_id")).as("uniq_exact"))))
          .select(lit(-1L).as("day"), col("uniq_est"),
            col("uniq_exact"))
        perDay.unionByName(total).orderBy("day")
      },
      None),

    // T15 windowed multi-step funnel — q79's ordered funnel with the
    // production constraint added: each step must land within W of the
    // PREVIOUS step's first qualifying occurrence (signup → click ≤ 7d
    // later → purchase ≤ 7d after that). Not expressible as one
    // min-when pass (step N's candidate window depends on step N−1's
    // time), so each step is one agg + one join — all keyed on user_id,
    // so every shuffle reuses the same partitioning (exchange reuse; at
    // scale this is 3 co-partitioned hash joins, nothing pairwise).
    // Timestamps quantized to µs on both engines (DuckDB's parquet
    // reader coerces ns → µs; §7.5 discipline via Scalars.longDiv).
    Q("q111_windowed_funnel",
      (s, d) => {
        val W = 604800000000L // 7 days in µs
        val ev = events(s, d).select(col("user_id"), col("event_type"),
          Scalars.longDiv("ts", 1000L).as("us"))
        val ta = ev.filter(col("event_type") === "signup")
          .groupBy("user_id").agg(min("us").as("t_a"))
        val tb = ev.filter(col("event_type") === "click")
          .join(ta, "user_id")
          .filter(col("us") > col("t_a") && col("us") <= col("t_a") + W)
          .groupBy("user_id").agg(min("us").as("t_b"))
        val tc = ev.filter(col("event_type") === "purchase")
          .join(tb, "user_id")
          .filter(col("us") > col("t_b") && col("us") <= col("t_b") + W)
          .groupBy("user_id").agg(min("us").as("t_c"))
        ta.agg(count(lit(1)).as("n_signup"))
          .crossJoin(tb.agg(count(lit(1)).as("n_click_7d")))
          .crossJoin(tc.agg(count(lit(1)).as("n_purchase_7d")))
      },
      Some("""WITH ev AS (
             |  SELECT user_id, event_type, epoch_us(ts) AS us
             |  FROM events),
             |ta AS (
             |  SELECT user_id, min(us) AS t_a FROM ev
             |  WHERE event_type = 'signup' GROUP BY 1),
             |tb AS (
             |  SELECT e.user_id, min(e.us) AS t_b
             |  FROM ev e JOIN ta ON e.user_id = ta.user_id
             |  WHERE e.event_type = 'click'
             |    AND e.us > ta.t_a AND e.us <= ta.t_a + 604800000000
             |  GROUP BY 1),
             |tc AS (
             |  SELECT e.user_id, min(e.us) AS t_c
             |  FROM ev e JOIN tb ON e.user_id = tb.user_id
             |  WHERE e.event_type = 'purchase'
             |    AND e.us > tb.t_b AND e.us <= tb.t_b + 604800000000
             |  GROUP BY 1)
             |SELECT (SELECT CAST(count(*) AS BIGINT) FROM ta)
             |    AS n_signup,
             |  (SELECT CAST(count(*) AS BIGINT) FROM tb) AS n_click_7d,
             |  (SELECT CAST(count(*) AS BIGINT) FROM tc)
             |    AS n_purchase_7d""".stripMargin)),

    // S15/X28 small-file compaction (ops/Compaction): the layout is built
    // the way a micro-batch sink fragments it (8 files per day dir), then
    // bin-packed back to target-size files. The declared query is a FULL
    // scan of the post-maintenance table so the oracle (raw events in
    // DuckDB) proves the rewrite lost, invented, and duplicated nothing —
    // the layout-independent oracle pattern of q96/q104/q114. Counts only
    // (§7.5: no accumulation-order-dependent double sums). CompactionSpec
    // pins the mechanics: incremental (packed partitions untouched),
    // idempotent (second run rewrites zero), pruning still live.
    Q("q116_compacted_scan",
      (s, d) => {
        val path = graft.ops.Compaction.compactedEventsPath(s, d)
        s.read.parquet(path)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            countDistinct(col("user_id")).as("uniq_users"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |  CAST(count(DISTINCT user_id) AS BIGINT) AS uniq_users
             |FROM events GROUP BY event_type ORDER BY event_type"""
        .stripMargin)),

    // X100 partition-TTL retention (ops/Retention): the ClickHouse
    // `TTL ... DELETE` analog and q116's lifecycle sibling — the
    // day-partitioned events layout is written the way the ingest sink
    // partitions it, then every partition strictly older than the newest
    // 14 days is dropped METADATA-ONLY (directory-name eligibility, one
    // swap-safe rename+delete per dropped day — no data file is ever
    // opened; at 100 TB dropping a year of history is a listing, not a
    // scan). The declared query is a per-day rollup of the POST-TTL
    // table; the oracle replays the same trailing-window predicate over
    // the RAW events in DuckDB (cutoff = max day − 13, derivable on both
    // sides), so equality proves the drop removed whole old partitions
    // and nothing else. Counts + exact-cents sum (§7.5 moneySum
    // discipline). RetentionSpec pins the mechanics: survivor
    // row-multiset identity, idempotence, pruning intact post-drop,
    // metadata-only by construction.
    Q("q216_ttl_retention",
      (s, d) => {
        val path = graft.ops.Retention.retainedEventsPath(s, d)
        s.read.parquet(path)
          .groupBy("day")
          .agg(count(lit(1)).as("n_events"),
            Scalars.moneySum(col("value")).as("vol"))
          .orderBy("day")
      },
      Some(s"""WITH e AS (
             |  SELECT epoch_ns(ts) // 86400000000000 AS d, value
             |  FROM events),
             |mx AS (SELECT max(d) AS mx FROM e)
             |SELECT DATE '1970-01-01' + CAST(d AS INT) AS day,
             |  CAST(count(*) AS BIGINT) AS n_events,
             |  ${Scalars.moneySumSql("value")} AS vol
             |FROM e, mx WHERE d > mx - ${graft.ops.Retention.KeepDays}
             |GROUP BY d ORDER BY day""".stripMargin)),

    // T37 per-type trend line — ClickHouse `simpleLinearRegression`
    // parity: exact least-squares slope/intercept over each type's daily
    // counts, all-integer fixed point so both engines agree bit-for-bit
    // (no float regression, no libm; see [[trendFromDaily]] for the
    // closed form, the sign-split division for declining trends, and
    // the per-group overflow guards). The forecasting primitive beside
    // T22's spike gate (is TODAY anomalous) and T35's changepoint (did
    // the level SHIFT): what direction is this feed headed, and from
    // what base. Also derivable from the X97 maintained aggregate state
    // (AggPipelineSpec pins parity — one more consumer that never
    // rescans raw facts).
    // Scale shape: corpus-sized work ends at the shared T31 (type, day)
    // partial+final agg; min-day join rides a types-sized broadcast and
    // the moments are one more agg over the types×days table.
    Q("q219_trend_line",
      (s, d) => trendFromDaily(typeDailyCounts(events(s, d))),
      Some {
        def ss(num: String, den: String): String =
          s"CASE WHEN ($num) >= 0 THEN ($num) // ($den) " +
            s"ELSE -((-($num)) // ($den)) END"
        val det = "(nd * sxx - sx * sx)"
        s"""WITH daily AS (
           |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
           |    CAST(count(*) AS BIGINT) AS n
           |  FROM events GROUP BY 1, 2),
           |x AS (
           |  SELECT event_type,
           |    day - min(day) OVER (PARTITION BY event_type) AS x, n
           |  FROM daily),
           |a AS (
           |  SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
           |    CAST(sum(x) AS BIGINT) AS sx,
           |    CAST(sum(n) AS BIGINT) AS sy,
           |    CAST(sum(x * n) AS BIGINT) AS sxy,
           |    CAST(sum(x * x) AS BIGINT) AS sxx
           |  FROM x GROUP BY 1)
           |SELECT event_type, n_days, total, slope_ppm, icept_milli,
           |  CAST(CASE WHEN slope_ppm > 0 THEN 1 ELSE 0 END AS INT)
           |    AS rising
           |FROM (
           |  SELECT event_type, nd AS n_days, sy AS total,
           |    CAST(${ss("1000000 * (nd * sxy - sx * sy)", det)}
           |      AS BIGINT) AS slope_ppm,
           |    CAST(${ss("1000 * (sy * sxx - sx * sxy)", det)}
           |      AS BIGINT) AS icept_milli
           |  FROM a WHERE nd >= 2)
           |ORDER BY event_type""".stripMargin
      }),

    // X34 audience overlap via KMV sketches (see [[audienceOverlap]]).
    Q("q122_audience_overlap",
      (s, d) => audienceOverlap(s, d),
      Some("""WITH h AS (SELECT DISTINCT event_type,
             |        ('0x' || substr(md5(CAST(user_id AS VARCHAR)),
             |          1, 15))::BIGINT AS h
             |      FROM events),
             |r AS (SELECT event_type, h, row_number() OVER (
             |        PARTITION BY event_type ORDER BY h) AS rn
             |      FROM h),
             |sk AS (SELECT event_type, h FROM r WHERE rn <= 512),
             |p AS (SELECT a.event_type AS a_type, b.event_type AS b_type
             |      FROM (SELECT DISTINCT event_type FROM sk) a
             |      JOIN (SELECT DISTINCT event_type FROM sk) b
             |        ON a.event_type < b.event_type),
             |u AS (SELECT DISTINCT p.a_type, p.b_type, s.h
             |      FROM p JOIN sk s ON s.event_type = p.a_type
             |                       OR s.event_type = p.b_type),
             |ur AS (SELECT a_type, b_type, h, row_number() OVER (
             |         PARTITION BY a_type, b_type ORDER BY h) AS rn
             |       FROM u),
             |lk AS (SELECT a_type, b_type, h FROM ur WHERE rn <= 512),
             |agg AS (SELECT a_type, b_type, max(h) AS kth_hash,
             |          CAST(count(*) AS INT) AS l_n,
             |          CAST(sum(CASE WHEN
             |              EXISTS (SELECT 1 FROM sk x
             |                WHERE x.event_type = l.a_type AND x.h = l.h)
             |              AND EXISTS (SELECT 1 FROM sk y
             |                WHERE y.event_type = l.b_type AND y.h = l.h)
             |            THEN 1 ELSE 0 END) AS INT) AS rho_k
             |        FROM lk l GROUP BY a_type, b_type)
             |SELECT a_type, b_type, rho_k, kth_hash,
             |  CASE WHEN l_n < 512 THEN CAST(rho_k AS BIGINT)
             |       ELSE CAST(floor((rho_k / CAST(l_n AS DOUBLE)) *
             |         (CAST(l_n - 1 AS DOUBLE) * 1152921504606846976.0
             |           / CAST(kth_hash AS DOUBLE))) AS BIGINT) END
             |    AS est_inter
             |FROM agg ORDER BY a_type, b_type""".stripMargin)),

    // T21 linear-interpolation gap fill over an hourly spine — the
    // time-series reporting shape q76's zero-fill cannot express: per
    // event type, the hourly mean of `value` where observations exist and
    // a LINEAR interpolation between the neighboring observed hours where
    // they don't (the metric-dashboard / sensor-rollup fill rule; q95's
    // as-of join is the step-function "previous value" cousin). All
    // arithmetic is exact integers: each row quantizes to cents via the
    // round2 floor-form, the hourly mean is an order-independent BIGINT
    // cent sum DIV count, and the interpolation is rearranged to the
    // all-non-negative form (pv*(nh-h) + nv*(h-ph)) DIV (nh-ph) — Spark's
    // DIV truncates toward zero while DuckDB's // floors, so a form with
    // a possibly-negative numerator (pv + slope*dh) would diverge
    // cross-engine; this one never goes negative. Interior hours always
    // have both neighbors because the spine spans [min,max] per type and
    // the endpoints are observed by construction.
    // Scale shape: the only corpus-sized work is ONE partial+final agg to
    // (type, hour) groups; the spine generate, the left join, and the
    // prev/next windows all run over the post-agg types×hours table
    // (bounded by the calendar — ~100k rows per type per decade, never
    // corpus-sized), so the per-type window partitioning is safe by
    // construction at 100 TB. Nothing here re-touches events.
    Q("q155_interpolate",
      (s, d) => fillFromHourly(hourlyCents(events(s, d))),
      Some("""WITH hourly AS (
             |  SELECT event_type, epoch_ns(ts) // 3600000000000 AS h,
             |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
             |      AS BIGINT) AS cs,
             |    CAST(count(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1, 2),
             |ha AS (SELECT event_type, h, cs // n AS avg_c FROM hourly),
             |b AS (SELECT event_type, min(h) AS h0, max(h) AS h1
             |      FROM ha GROUP BY 1),
             |spine AS (SELECT event_type,
             |    unnest(generate_series(h0, h1)) AS h FROM b),
             |j AS (SELECT event_type, h, avg_c
             |      FROM spine LEFT JOIN ha USING (event_type, h)),
             |w AS (SELECT event_type, h, avg_c,
             |    last_value(CASE WHEN avg_c IS NOT NULL THEN h END
             |      IGNORE NULLS) OVER pw AS ph,
             |    last_value(avg_c IGNORE NULLS) OVER pw AS pv,
             |    first_value(CASE WHEN avg_c IS NOT NULL THEN h END
             |      IGNORE NULLS) OVER nw AS nh,
             |    first_value(avg_c IGNORE NULLS) OVER nw AS nv
             |  FROM j
             |  WINDOW pw AS (PARTITION BY event_type ORDER BY h
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             |    nw AS (PARTITION BY event_type ORDER BY h
             |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
             |SELECT event_type, h AS epoch_hour,
             |  CAST(CASE WHEN avg_c IS NOT NULL THEN avg_c
             |    ELSE (pv * (nh - h) + nv * (h - ph)) // (nh - ph) END
             |    AS BIGINT) AS value_cents,
             |  CAST(CASE WHEN avg_c IS NULL THEN 1 ELSE 0 END AS INT)
             |    AS interpolated
             |FROM w ORDER BY event_type, epoch_hour""".stripMargin)),

    // T22 volume-spike gate on an irregular daily series — the
    // ingestion monitor a training-data pipeline runs per source/user:
    // flag days whose event count is >= 3x the account's own trailing
    // 28-day baseline (a crawler bug, a spam flood, a misconfigured
    // replay all land here before they poison the corpus mix). The
    // baseline frame is STRICTLY PRECEDING — RANGE BETWEEN 27 PRECEDING
    // AND 1 PRECEDING — so the day under test never contaminates its
    // own baseline (q159's inclusive trailing frame is the wrong tool
    // here), and RANGE (not ROWS) keeps the baseline honest across
    // gaps. Warm-up guard: no verdict until >= 7 active baseline days.
    // All integer: the 3x test is the cross-multiplication
    // n * base_days >= 3 * base_n — no division, no doubles.
    // Scale shape: q159's — one corpus-sized partial+final agg to
    // (user, day); the window runs user-partitioned over that bounded
    // daily table.
    Q("q162_spike_gate",
      (s, d) => spikeFromDaily(dailyCounts(events(s, d))),
      Some("""WITH daily AS (
             |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day,
             |    CAST(count(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1, 2)
             |SELECT user_id, day, n,
             |  CAST(coalesce(sum(n) OVER w, 0) AS BIGINT) AS base_n,
             |  CAST(count(*) OVER w AS BIGINT) AS base_days,
             |  CAST(CASE WHEN count(*) OVER w >= 7 AND
             |      n * count(*) OVER w >= 3 * coalesce(sum(n) OVER w, 0)
             |    THEN 1 ELSE 0 END AS INT) AS spike
             |FROM daily
             |WINDOW w AS (PARTITION BY user_id ORDER BY day
             |  RANGE BETWEEN 27 PRECEDING AND 1 PRECEDING)
             |ORDER BY user_id, day""".stripMargin)),

    // W9 rolling DISTINCT count over a value-bounded frame — "distinct
    // event types used in the trailing 7 days", the engagement-breadth
    // metric (weekly active features / rolling distinct sources) that
    // plain rolling SUMS (W8) cannot express: distinct-over-frame has
    // no associative decrement, so engines either buffer the frame or
    // refuse DISTINCT window aggregates outright. Relational form:
    // dedup the corpus to (user, day, type) FIRST (one partial+final
    // agg — this is where corpus-sized work ends), then collect_set
    // over the RANGE frame on that bounded table and reduce to one row
    // per (user, day) — every same-day row sees the identical
    // value-bounded frame, so max() of the set size is exact. Window
    // state is <= |types active in 7 days| per user, bytes not rows.
    // The DuckDB oracle replays it as a range self-join with
    // count(DISTINCT) — the semantics, not the plan.
    Q("q164_rolling_distinct",
      (s, d) => {
        val dt = events(s, d)
          .select(col("user_id"),
            Scalars.longDiv("ts", NsPerDay).as("day"), col("event_type"))
          .distinct()
        val w = Window.partitionBy("user_id").orderBy(col("day"))
          .rangeBetween(-6, Window.currentRow)
        dt.withColumn("t7", size(collect_set(col("event_type")).over(w)))
          .groupBy("user_id", "day")
          .agg(count(lit(1)).cast("long").as("types_1d"),
            max(col("t7")).cast("long").as("types_7d"))
          .orderBy("user_id", "day")
      },
      Some("""WITH dt AS (
             |  SELECT DISTINCT user_id,
             |    epoch_ns(ts) // 86400000000000 AS day, event_type
             |  FROM events),
             |d1 AS (SELECT user_id, day,
             |    CAST(count(*) AS BIGINT) AS types_1d
             |  FROM dt GROUP BY 1, 2)
             |SELECT a.user_id, a.day, a.types_1d,
             |  CAST(count(DISTINCT b.event_type) AS BIGINT) AS types_7d
             |FROM d1 a JOIN dt b ON b.user_id = a.user_id
             |  AND b.day BETWEEN a.day - 6 AND a.day
             |GROUP BY a.user_id, a.day, a.types_1d
             |ORDER BY a.user_id, a.day""".stripMargin)),

    // T23 SCD-2 point-in-time feature lookup — the label-leakage-safe
    // training join: each fact row must see the dimension version that
    // was valid AT ITS OWN TIME, never a later one (joining current
    // attributes onto historical facts is the classic feature-leakage
    // bug in training-data assembly; q109 BUILDS the SCD-2 history,
    // this op CONSUMES it correctly). Deterministic stand-in dimension:
    // per user, version 1 (tier = user%3) valid from the first active
    // day, version 2 (tier+10) valid from the span midpoint — derived
    // from the data, so both engines construct it identically. The
    // lookup is ops/AsofJoin.backward — the MERGE form: no join node,
    // one hash shuffle on user_id shared by facts and dimension, one
    // per-partition time sort, a running last() carry. At 100 TB the
    // versioned dimension never pairs with the fact table (the theta
    // range-join + argmax composition would); both sides shuffle once.
    // Per (user, version) rollup proves every fact landed in exactly
    // its valid version window.
    Q("q165_pit_features",
      (s, d) => {
        // materialized ONCE (the q136/q160 localCheckpoint precedent):
        // the fact side, the span agg, and both dimension versions all
        // read the users×active-days daily table — one corpus scan.
        val daily = dailyCounts(events(s, d)).localCheckpoint(true)
        val span = daily.groupBy("user_id")
          .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        val dim = span.select(col("user_id"), col("d0").as("day"),
            lit(1L).as("version"), pmod(col("user_id"), lit(3L)).as("tier"))
          .unionByName(span.filter(col("d1") > col("d0"))
            .select(col("user_id"), (expr("(d0 + d1) DIV 2") + 1L).as("day"),
              lit(2L).as("version"),
              (pmod(col("user_id"), lit(3L)) + 10L).as("tier")))
        ops.AsofJoin.backward(daily, dim, Seq("user_id"), "day",
            timeOut = "v_day",
            payload = Seq("version" -> "version", "tier" -> "tier"))
          .groupBy("user_id", "version", "tier")
          .agg(count(lit(1)).as("n_days"), sum(col("n")).as("n_events"))
          .orderBy("user_id", "version")
      },
      Some("""WITH daily AS (
             |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day,
             |    CAST(count(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1, 2),
             |span AS (SELECT user_id, min(day) AS d0, max(day) AS d1
             |  FROM daily GROUP BY 1),
             |dim AS (
             |  SELECT user_id, d0 AS day, CAST(1 AS BIGINT) AS version,
             |    CAST(user_id % 3 AS BIGINT) AS tier FROM span
             |  UNION ALL
             |  SELECT user_id, (d0 + d1) // 2 + 1, 2, user_id % 3 + 10
             |  FROM span WHERE d1 > d0)
             |SELECT dl.user_id AS user_id, dim.version AS version,
             |  dim.tier AS tier,
             |  CAST(count(*) AS BIGINT) AS n_days,
             |  CAST(sum(dl.n) AS BIGINT) AS n_events
             |FROM daily dl ASOF JOIN dim
             |  ON dl.user_id = dim.user_id AND dl.day >= dim.day
             |GROUP BY 1, 2, 3 ORDER BY 1, 2""".stripMargin)),

    // T24 recency-decay engagement score — the freshness weighting a
    // training-data pipeline applies before sampling: each user's (or
    // source's) activity is scored with an exponential decay over age
    // in days (0.9/day ⇒ half-life ≈ 6.6 days), horizon-capped at 28
    // days, so the corpus mix can up-weight recently-active material
    // without a hand-tuned cutoff cliff. Exactness contract: the decay
    // curve is the INTEGER recurrence d(0)=1e6, d(k)=d(k−1)·9 DIV 10 —
    // a 28-row table both engines construct identically (no pow(), no
    // float rounding at the .5 boundaries); the score is then pure
    // integer Σ n·d(age). The reference day is data-derived (global max
    // active day), so the query is reproducible, not wall-clock-bound.
    // Scale shape: corpus-sized work ends at the dailyCounts
    // partial+final agg (shared with q162's monitor and its streaming
    // twin — and itself the streaming fold of THIS query, see
    // decayFromDaily / StreamingSpec T24s); the 1-row reference and
    // the 28-row decay table ride broadcasts; the weighted rollup is
    // one more partial+final agg over users×(≤28) rows. No window
    // anywhere.
    Q("q168_decay_score",
      (s, d) => decayFromDaily(dailyCounts(events(s, d))),
      Some("""WITH RECURSIVE decay(age, dp) AS (
             |  SELECT CAST(0 AS BIGINT), CAST(1000000 AS BIGINT)
             |  UNION ALL
             |  SELECT age + 1, dp * 9 // 10 FROM decay WHERE age < 27),
             |daily AS (
             |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day,
             |    CAST(count(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1, 2),
             |ref AS (SELECT max(day) AS rd FROM daily),
             |aged AS (
             |  SELECT dl.user_id, dl.n, r.rd - dl.day AS age
             |  FROM daily dl CROSS JOIN ref r
             |  WHERE r.rd - dl.day < 28)
             |SELECT a.user_id,
             |  CAST(sum(a.n) AS BIGINT) AS n_recent,
             |  CAST(count(*) AS BIGINT) AS days_active,
             |  CAST(sum(a.n * decay.dp) AS BIGINT) AS score_ppm
             |FROM aged a JOIN decay ON decay.age = a.age
             |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin)),

    // T25 event-transition matrix — the first-order Markov statistic a
    // behavioral/training pipeline reads before sequence modeling: per
    // (event_type → next event_type) pair, transition count and row-
    // normalized probability (ppm), successor defined within each
    // user's stream ordered by (ts, event_id) — the deterministic
    // unique tiebreak the oracle discipline demands. Integers end to
    // end (counts + DIV ppm).
    // Scale shape: the lag/lead pass is a user-partitioned window (the
    // q102/q111 per-user precedent — per-user state, never a global
    // order); transitions then collapse through ONE partial+final agg
    // to a types² table, and the row totals join is types-sized
    // (broadcast). Nothing corpus-sized survives past the first agg.
    Q("q177_transition_matrix",
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
        val tr = events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"))
          .withColumn("next_type", lead("event_type", 1).over(w))
          .filter(col("next_type").isNotNull)
          .groupBy(col("event_type").as("from_type"),
            col("next_type").as("to_type"))
          .agg(count(lit(1)).as("n"))
        val tot = tr.groupBy("from_type").agg(sum("n").as("tot"))
        tr.join(broadcast(tot), "from_type")
          .select(col("from_type"), col("to_type"), col("n"),
            expr("(1000000 * n) DIV tot").as("p_ppm"))
          .orderBy("from_type", "to_type")
      },
      Some("""WITH e AS (
             |  SELECT user_id, epoch_ns(ts) AS tsn, event_id, event_type
             |  FROM events),
             |tr0 AS (
             |  SELECT event_type AS from_type,
             |    lead(event_type) OVER (PARTITION BY user_id
             |      ORDER BY tsn, event_id) AS to_type
             |  FROM e),
             |tr AS (SELECT from_type, to_type,
             |    CAST(count(*) AS BIGINT) AS n
             |  FROM tr0 WHERE to_type IS NOT NULL GROUP BY 1, 2),
             |tot AS (SELECT from_type, sum(n) AS tot FROM tr GROUP BY 1)
             |SELECT tr.from_type, tr.to_type, tr.n,
             |  CAST((1000000 * tr.n) // tot.tot AS BIGINT) AS p_ppm
             |FROM tr JOIN tot USING (from_type)
             |ORDER BY from_type, to_type""".stripMargin)),

    // T26 weekly cohort-retention triangle — the classic growth-
    // analytics matrix (cohort = a user's first active week; each cell
    // = users of that cohort active again k weeks later, as exact ppm
    // of the cohort): the report behind every "is engagement
    // durable?" question, and the time-generalized form of q78's
    // day-over-day retention. Integers end to end (week = epoch-ns DIV
    // ns-per-week via the longDiv contract; ppm via DIV).
    // Scale shape: corpus-sized work is ONE (user, week) distinct agg
    // (partial+final); the cohort assignment is a per-user min over
    // that table (second partial agg) joined back on user_id; cells
    // and cohort sizes are both cohortweeks²-bounded, the final ppm
    // join is cohorts-sized (broadcast). No window anywhere.
    Q("q180_cohort_retention",
      (s, d) => {
        val weekly = events(s, d)
          .groupBy(col("user_id"),
            Scalars.longDiv("ts", 604800000000000L).as("week"))
          .agg(count(lit(1)).as("n_ev"))
          .localCheckpoint(true)
        val cohort = weekly.groupBy("user_id")
          .agg(min("week").as("cohort_week"))
        val sizes = cohort.groupBy("cohort_week")
          .agg(count(lit(1)).as("cohort_n"))
        weekly.join(cohort, "user_id")
          .groupBy(col("cohort_week"),
            (col("week") - col("cohort_week")).as("week_offset"))
          .agg(count(lit(1)).as("n_users"))
          .join(broadcast(sizes), "cohort_week")
          .select(col("cohort_week"), col("week_offset"), col("n_users"),
            expr("(1000000 * n_users) DIV cohort_n").as("retained_ppm"))
          .orderBy("cohort_week", "week_offset")
      },
      Some("""WITH weekly AS (
             |  SELECT user_id, epoch_ns(ts) // 604800000000000 AS week
             |  FROM events GROUP BY 1, 2),
             |cohort AS (
             |  SELECT user_id, min(week) AS cohort_week
             |  FROM weekly GROUP BY 1),
             |sizes AS (
             |  SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_n
             |  FROM cohort GROUP BY 1),
             |cells AS (
             |  SELECT c.cohort_week, w.week - c.cohort_week AS week_offset,
             |    CAST(count(*) AS BIGINT) AS n_users
             |  FROM weekly w JOIN cohort c USING (user_id)
             |  GROUP BY 1, 2)
             |SELECT cells.cohort_week, cells.week_offset, cells.n_users,
             |  CAST((1000000 * cells.n_users) // sizes.cohort_n AS BIGINT)
             |    AS retained_ppm
             |FROM cells JOIN sizes USING (cohort_week)
             |ORDER BY cohort_week, week_offset""".stripMargin)),

    // T27 event debounce — the stream-cleaning op run before any
    // engagement statistic: collapse bursts of same-(user, type) events
    // separated by < 60 s into their first event (double-clicks, retry
    // storms, at-least-once replays all melt into one), reporting per
    // type the raw count, kept count, and squash ratio. A burst START
    // is an event ≥ 60 s after its predecessor (or the first ever);
    // gaps-and-islands without materializing island ids — only the
    // lag test matters for keep/drop. Integer epoch-ns math only.
    // Scale shape: one (user, type)-partitioned lag window (per-user
    // state, the q102/q177 precedent), then ONE partial+final agg to a
    // types-sized report. Nothing corpus-sized past the window, and
    // the window input is the narrow (user, type, ts) projection.
    Q("q182_event_debounce",
      (s, d) => {
        val w = Window.partitionBy("user_id", "event_type")
          .orderBy(col("ts"), col("event_id"))
        events(s, d)
          .select(col("user_id"), col("event_type"), col("ts"),
            col("event_id"))
          .withColumn("prev_ts", lag("ts", 1).over(w))
          .withColumn("keep",
            when(col("prev_ts").isNull ||
              col("ts") - col("prev_ts") >= 60000000000L, 1L)
              .otherwise(0L))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_raw"), sum(col("keep")).as("n_kept"))
          .select(col("event_type"), col("n_raw"), col("n_kept"),
            expr("(1000000 * (n_raw - n_kept)) DIV n_raw")
              .as("squashed_ppm"))
          .orderBy("event_type")
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_type, epoch_ns(ts) AS tsn, event_id
             |  FROM events),
             |k AS (
             |  SELECT event_type,
             |    CASE WHEN lag(tsn) OVER (PARTITION BY user_id, event_type
             |        ORDER BY tsn, event_id) IS NULL
             |      OR tsn - lag(tsn) OVER (PARTITION BY user_id, event_type
             |        ORDER BY tsn, event_id) >= 60000000000
             |    THEN 1 ELSE 0 END AS keep
             |  FROM e)
             |SELECT event_type, CAST(count(*) AS BIGINT) AS n_raw,
             |  CAST(sum(keep) AS BIGINT) AS n_kept,
             |  CAST((1000000 * (count(*) - sum(keep))) // count(*)
             |    AS BIGINT) AS squashed_ppm
             |FROM k GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // T28 conversion-latency percentiles — the product-analytics
    // distribution behind every funnel (T12 counts who converts; this
    // measures HOW LONG): per converting user, seconds from first
    // signup to the first purchase at-or-after it, then exact
    // p50/p90/p99 over those latencies. Latencies are integer seconds
    // (epoch-ns DIV 1e9 — the longDiv contract). 0.9/0.99 are NOT
    // exactly-representable doubles and need not be: both engines
    // parse the same literal to the same double and interpolate with
    // the same weighted form — exactPercentiles documents the
    // empirical bit-identity measurement (16k non-tie cells, 0
    // mismatches); its vlo==vhi short-circuit covers discrete ties.
    // Scale shape: two argmin/argmax-form partial aggs (first signup /
    // first qualifying purchase per user — never a per-user window
    // over raw events), one user-keyed join, then
    // ops/GlobalRank.exactPercentiles (range-partition + prefix
    // counts — q63's machinery, no buffer-all Percentile).
    Q("q184_conversion_latency",
      (s, d) => {
        val ev = events(s, d)
        val su = ev.filter(col("event_type") === "signup")
          .groupBy("user_id").agg(min(col("ts")).as("ts0"))
        val pu = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"))
          .join(su, "user_id")
          .filter(col("ts") >= col("ts0"))
          .groupBy("user_id")
          .agg(min(col("ts")).as("tp"), min(col("ts0")).as("ts0"))
          .select(expr("(tp - ts0) DIV 1000000000L").as("lat_s"))
        graft.ops.GlobalRank.exactPercentiles(
            pu, lit("all"), col("lat_s"), Seq(0.5, 0.9, 0.99))
          .select(col("q"), col("pct").as("latency_s"))
          .orderBy("q")
      },
      Some("""WITH su AS (
             |  SELECT user_id, min(epoch_ns(ts)) AS ts0 FROM events
             |  WHERE event_type = 'signup' GROUP BY user_id),
             |pu AS (
             |  SELECT e.user_id,
             |    (min(epoch_ns(e.ts)) - min(su.ts0)) // 1000000000
             |      AS lat_s
             |  FROM events e JOIN su ON su.user_id = e.user_id
             |  WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) >= su.ts0
             |  GROUP BY e.user_id)
             |SELECT CAST(0.5 AS DOUBLE) AS q,
             |  quantile_cont(lat_s, 0.5) AS latency_s FROM pu
             |UNION ALL SELECT CAST(0.9 AS DOUBLE),
             |  quantile_cont(lat_s, 0.9) FROM pu
             |UNION ALL SELECT CAST(0.99 AS DOUBLE),
             |  quantile_cont(lat_s, 0.99) FROM pu
             |ORDER BY q""".stripMargin)),

    // T29 last-touch attribution — per purchase day, how many purchases
    // have a click by the same user within the preceding 7 days (and
    // the attach rate): the marketing-attribution report every event
    // warehouse serves, and the one-sided as-of join (T13) in its
    // merge form. Determinism: streams are merged and ordered by
    // (ts, kind, event_id) — a same-instant click sorts BEFORE the
    // purchase, so at-or-before is inclusive and the tiebreak is total.
    // The running "last click ts" is an associative running MAX over
    // the merged stream — no join, no per-purchase probe.
    // Scale shape: one user-partitioned window over the narrow merged
    // (user, ts, kind, id) projection (per-user state, the T13/q165
    // merge-form precedent — facts and touches share ONE user_id
    // shuffle and never pair up), then a partial+final agg to
    // days-many rows. Integer epoch-ns math only.
    Q("q187_last_touch_attribution",
      (s, d) => {
        val ev = events(s, d)
        val merged = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), lit(0).as("kind"),
            col("event_id"))
          .unionByName(ev.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("ts"), lit(1).as("kind"),
              col("event_id")))
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("kind"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        merged
          .withColumn("last_click",
            max(when(col("kind") === 0, col("ts"))).over(w))
          .filter(col("kind") === 1)
          .select(Scalars.longDiv("ts", NsPerDay).as("day"),
            when(col("last_click").isNotNull &&
              col("ts") - col("last_click") <= 604800000000000L, 1L)
              .otherwise(0L).as("att"))
          .groupBy("day")
          .agg(count(lit(1)).as("n_purchases"), sum(col("att"))
            .as("n_attributed"))
          .select(col("day"), col("n_purchases"), col("n_attributed"),
            expr("(1000000 * n_attributed) DIV n_purchases")
              .as("attach_ppm"))
          .orderBy("day")
      },
      Some("""WITH m AS (
             |  SELECT user_id, epoch_ns(ts) AS tsn,
             |    CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS kind,
             |    event_id
             |  FROM events WHERE event_type IN ('click', 'purchase')),
             |lc AS (
             |  SELECT user_id, tsn, kind,
             |    max(CASE WHEN kind = 0 THEN tsn END) OVER (
             |      PARTITION BY user_id ORDER BY tsn, kind, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS last_click
             |  FROM m)
             |SELECT tsn // 86400000000000 AS day,
             |  CAST(count(*) AS BIGINT) AS n_purchases,
             |  CAST(sum(CASE WHEN last_click IS NOT NULL
             |    AND tsn - last_click <= 604800000000000
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed,
             |  CAST((1000000 * sum(CASE WHEN last_click IS NOT NULL
             |    AND tsn - last_click <= 604800000000000
             |    THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS attach_ppm
             |FROM lc WHERE kind = 1
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // T30 event-sequence pattern matching — ClickHouse's sequenceMatch
    // family (the reference engine exposes sequenceMatch/sequenceCount
    // as first-class; funnels T12/T20 are its fixed-shape special
    // cases): per user, the event-type stream ordered by (ts, event_id)
    // is rendered as a 1-char-per-event string (initials c/e/p/s/v are
    // distinct for the 5 types) and matched against regex patterns —
    // 'sp' (purchase immediately after signup), 's[^c]*p' (signup to
    // purchase with no intervening click), 's.*p' (eventual). Regexes
    // stay in the dialect intersection of Java regex and RE2 (literals,
    // '.', '[^x]', '*') so Spark rlike and DuckDB regexp_matches agree
    // by construction. Match sets nest (adjacent ⊆ clean ⊆ eventual) —
    // the invariant spec pins it.
    // Scale shape: ONE partial+final agg builds each user's sequence
    // (collect_list merges across partials; per-user event counts are
    // the bounded per-user-state class every window op here shares, 1
    // byte per event); the three matches are a map-side projection over
    // users-many rows; the rollup is one more tiny agg unpivoted with
    // stack(). No window, no join, nothing corpus-sized past the agg.
    Q("q190_sequence_match",
      (s, d) => {
        val seqs = events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"),
            substring(col("event_type"), 1, 1).as("ini"))
          .groupBy("user_id")
          .agg(array_join(transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"),
              col("ini")))),
            x => x.getField("ini")), "").as("sq"))
        val m = seqs.agg(
          count(lit(1)).as("n_users"),
          sum(when(col("sq").rlike("sp"), 1L).otherwise(0L))
            .as("adjacent"),
          sum(when(col("sq").rlike("s[^c]*p"), 1L).otherwise(0L))
            .as("clean"),
          sum(when(col("sq").rlike("s.*p"), 1L).otherwise(0L))
            .as("eventual"))
        m.select(expr("stack(3, 'adjacent', adjacent, 'clean', clean, " +
            "'eventual', eventual) AS (pattern, n_match)"),
            col("n_users"))
          .select(col("pattern"), col("n_match"),
            expr("(1000000 * n_match) DIV n_users").as("match_ppm"))
          .orderBy("pattern")
      },
      Some("""WITH s AS (
             |  SELECT user_id,
             |    string_agg(substr(event_type, 1, 1), ''
             |      ORDER BY epoch_ns(ts), event_id) AS sq
             |  FROM events GROUP BY user_id),
             |m AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n_users,
             |    CAST(sum(CASE WHEN regexp_matches(sq, 'sp')
             |      THEN 1 ELSE 0 END) AS BIGINT) AS adjacent,
             |    CAST(sum(CASE WHEN regexp_matches(sq, 's[^c]*p')
             |      THEN 1 ELSE 0 END) AS BIGINT) AS clean,
             |    CAST(sum(CASE WHEN regexp_matches(sq, 's.*p')
             |      THEN 1 ELSE 0 END) AS BIGINT) AS eventual
             |  FROM s)
             |SELECT p.pattern, p.n_match,
             |  CAST((1000000 * p.n_match) // m.n_users AS BIGINT)
             |    AS match_ppm
             |FROM m, (
             |  SELECT 'adjacent' AS pattern, adjacent AS n_match FROM m
             |  UNION ALL SELECT 'clean', clean FROM m
             |  UNION ALL SELECT 'eventual', eventual FROM m) p
             |ORDER BY p.pattern""".stripMargin)),

    // T31 weekday-seasonality deviation — the SEASONAL complement of
    // T22's trailing-window spike gate: volume anomalies are judged
    // against the same-weekday norm (Mondays vs the Monday profile),
    // not the previous 27 days, so weekly-periodic traffic doesn't
    // false-positive every peak day and a quiet-day incident isn't
    // masked by the weekly average. Per (event_type, day): the count,
    // the weekday, the deviation vs the weekday mean as ppm of the
    // mean, and a ≥2× flag. All-integer: weekday = epoch-day % 7
    // (non-negative domain), dev_ppm = 1e6·n·n_days DIV total — no
    // float mean anywhere.
    // Scale shape: corpus-sized work ends at ONE (type, day)
    // partial+final agg (q162's dailyCounts shape at type grain); the
    // weekday profile is a second agg over that types×days table and
    // joins back type-and-weekday-keyed (a broadcast at any realistic
    // type cardinality). No windows.
    Q("q197_weekday_seasonality",
      (s, d) => seasonalityFromDaily(typeDailyCounts(events(s, d))),
      Some("""WITH daily AS (
             |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
             |    CAST(count(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1, 2),
             |d2 AS (SELECT *, day % 7 AS wd FROM daily),
             |prof AS (
             |  SELECT event_type, wd, CAST(count(*) AS BIGINT) AS n_days,
             |    CAST(sum(n) AS BIGINT) AS total
             |  FROM d2 GROUP BY 1, 2)
             |SELECT d2.event_type, d2.day, d2.wd, d2.n,
             |  CAST((1000000 * d2.n * prof.n_days) // prof.total
             |    AS BIGINT) AS dev_ppm,
             |  CAST(CASE WHEN prof.n_days >= 2
             |      AND d2.n * prof.n_days >= 2 * prof.total
             |    THEN 1 ELSE 0 END AS INT) AS spike
             |FROM d2 JOIN prof
             |  ON prof.event_type = d2.event_type AND prof.wd = d2.wd
             |ORDER BY d2.event_type, d2.day""".stripMargin)),

    // T32 burstiness / index-of-dispersion — the DISTRIBUTIONAL
    // complement of T22 (trailing spikes) and T31 (weekday deviation):
    // per event type, the Fano factor of its daily counts over ACTIVE
    // days, fano = var/mean, as exact integer ppm — Poisson-like
    // arrivals read ~1e6, clumped/bursty traffic reads ≫1e6, and a
    // metronomic generator reads ≈0. All-integer: with n active days,
    // S = Σcounts, Q = Σcounts², var_num = n·Q − S² and
    // fano_ppm = (1e6·var_num) DIV (n·S) — no float variance anywhere,
    // so both engines agree bit-for-bit. Exactness window: 1e6·n·Q must
    // stay in long, i.e. n·Q < 9.2e12 — guarded PER GROUP by
    // assert_true (the packId precedent: overflow would otherwise be a
    // silently wrong ppm, not an error). The guard itself is in
    // DIVISION form (sq < bound DIV n_days) because the product form
    // n_days*sq could ITSELF wrap past 2^63 at extreme scale and land
    // back under the bound — a silently-passing guard, the exact
    // failure it exists to catch (r12 advice). At true 100 TB volumes
    // the widening path is per-type DECIMAL(38,0) sums — a documented
    // contract change, not a silent one.
    // Scale shape: corpus-sized work ends at the T31 (type, day)
    // partial+final agg; the Fano arithmetic runs on the types×days
    // table and reduces to types-many rows. No windows, no joins.
    Q("q199_burstiness_fano",
      (s, d) => fanoFromDaily(typeDailyCounts(events(s, d))),
      Some("""WITH daily AS (
             |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
             |    CAST(count(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1, 2),
             |agg AS (
             |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
             |    CAST(sum(n) AS BIGINT) AS total,
             |    CAST(sum(n * n) AS BIGINT) AS sq
             |  FROM daily GROUP BY event_type)
             |SELECT event_type, n_days, total,
             |  CAST((1000000 * (n_days * sq - total * total))
             |    // (n_days * total) AS BIGINT) AS fano_ppm,
             |  CAST(CASE WHEN (1000000 * (n_days * sq - total * total))
             |      // (n_days * total) >= 2000000
             |    THEN 1 ELSE 0 END AS INT) AS bursty
             |FROM agg ORDER BY event_type""".stripMargin)),

    // T33 OHLC bucket downsample — ClickHouse argMin/argMax-per-bucket
    // parity (the reference engine's canonical time-series reduction):
    // per (event_type, day), the value at the bucket's first and last
    // event (open/close, total order (ts, event_id) — q98's zero-padded
    // argmax key, so ties at sf1's replicated timestamps stay
    // deterministic), the min/max (low/high), event count, and the exact
    // DECIMAL value sum (Scalars.moneySum — double summation is
    // accumulation-order-dependent; min/max/argmin on doubles are not).
    // Scale shape: ONE partial+final agg over the event stream — min_by/
    // max_by/min/max/sum/count all carry constant-size partial state, so
    // the exchange sees types×days rows, never the corpus; no window, no
    // join, no sort before the types×days-sized output order.
    Q("q204_ohlc_downsample",
      (s, d) => typeDayOhlc(events(s, d)).orderBy("event_type", "day"),
      Some(s"""WITH b AS (
             |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
             |    printf('%020d-%020d', epoch_us(ts), event_id) AS ord,
             |    value
             |  FROM events)
             |SELECT event_type, CAST(day AS BIGINT) AS day,
             |  arg_min(value, ord) AS open, max(value) AS high,
             |  min(value) AS low, arg_max(value, ord) AS close,
             |  CAST(count(*) AS BIGINT) AS n_events,
             |  ${Scalars.moneySumSql("value")} AS vol
             |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // T34 deltaSum — ClickHouse `deltaSum` parity (the counter-rate
    // primitive PromQL calls rate()): per user, order the value stream by
    // the (ts, event_id) total order (T33's zero-padded argmax key — ties
    // at sf1's replicated timestamps stay deterministic) and sum only the
    // POSITIVE deltas, so monotonic-counter resets (negative jumps) don't
    // cancel accumulated increase; resets are counted, not summed. Values
    // quantize to exact cents first (Scalars.cents contract — double
    // subtraction of raw measures would be replayable here, but the cents
    // grid keeps every delta an integer, so the per-user sum is exact
    // BIGINT arithmetic with no accumulation-order concern).
    // Scale shape: ONE hash exchange on user_id + in-partition sort —
    // users parallelize across the cluster, each sequence sorts locally
    // (no corpus-global window); the rollup rides the same partitioning
    // (partial agg collapses each user to one row before any further
    // movement). No joins, no second corpus scan.
    Q("q205_delta_sum",
      (s, d) => {
        val e = deltaEvents(events(s, d))
        val w = Window.partitionBy("user_id").orderBy("o")
        e.withColumn("delta", col("c") - lag(col("c"), 1).over(w))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            sum(when(col("delta") > 0, col("delta")).otherwise(0L))
              .as("delta_sum_cents"),
            sum(when(col("delta") < 0, 1L).otherwise(0L)).as("n_resets"),
            max_by(col("c"), col("o")).as("last_cents"))
          .orderBy("user_id")
      },
      Some(s"""WITH e AS (
             |  SELECT user_id,
             |    printf('%020d-%020d', epoch_us(ts), event_id) AS o,
             |    ${Scalars.centsSql("value")} AS c
             |  FROM events),
             |dl AS (
             |  SELECT user_id, c, o,
             |    c - lag(c) OVER (PARTITION BY user_id ORDER BY o) AS delta
             |  FROM e)
             |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             |  CAST(sum(CASE WHEN delta > 0 THEN delta ELSE 0 END)
             |    AS BIGINT) AS delta_sum_cents,
             |  CAST(sum(CASE WHEN delta < 0 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_resets,
             |  arg_max(c, o) AS last_cents
             |FROM dl GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // T35 single-changepoint localization — the binary-segmentation CUSUM
    // statistic over each type's daily-count series (Page 1954 / standard
    // changepoint detection; the "did this source's volume shift, and
    // WHEN" audit a continuously-ingested corpus runs per feed): for every
    // split after the k-th of n active days,
    //   g_k = (S_k·n − k·T)² DIV (k·(n−k))
    // (S_k = prefix sum, T = total) — the squared between-segment mean
    // contrast, all-integer so both engines agree bit-for-bit (no float
    // variance, no libm). The changepoint is the argmax k (earliest day on
    // ties — max g join + min day, never a nondeterministic max_by);
    // ratio_ppm = (1e6·g_max) DIV T reads ~1e6 under a Poisson-stationary
    // null (E[g] ≈ n·σ² ≈ T) and ≫1e6 under a real level shift; the flag
    // fires at 10× null. Exactness windows guarded per group by
    // assert_true in DIVISION form (the q199 advice precedent — a product
    // form could itself wrap and pass silently): |S_k·n − k·T| ≤ T·n needs
    // T < 3037000499 DIV n (≈2^31.5 — squares stay under 2^63), and the
    // ppm scaling needs g_max < 2^63 DIV 1e6. At true 100 TB per-type
    // volumes the widening path is DECIMAL(38,0) — a documented contract
    // change, not a silent one. Types with one active day have no valid
    // split and drop out (k < n filter) in both engines.
    // Scale shape: corpus-sized work ends at the shared T31 (type, day)
    // partial+final agg; the cumsum window partitions by type over the
    // types×days table, totals ride a broadcast, and the argmax is two
    // tiny aggs over the same table. One corpus scan, no corpus window.
    Q("q206_changepoint",
      (s, d) => {
        val daily = typeDailyCounts(events(s, d))
          .localCheckpoint(true) // read twice: totals + the scored cumsum
        val tot = daily.groupBy("event_type")
          .agg(count(lit(1)).as("nd"), sum("n").as("t"))
        val w = Window.partitionBy("event_type").orderBy("day")
        val scored = daily
          .withColumn("k", row_number().over(w).cast("long"))
          .withColumn("s_k", sum("n").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .join(broadcast(tot), "event_type")
          .filter(col("k") < col("nd"))
          .withColumn("g",
            expr("((s_k * nd - k * t) * (s_k * nd - k * t)) " +
              "DIV (k * (nd - k))") +
              coalesce(assert_true(col("t") < expr("3037000499 DIV nd"),
                lit("q206: T >= 2^31.5/n — the contrast square would " +
                  "overflow long; widen to DECIMAL(38,0)")).cast("long"),
                lit(0L)))
          .localCheckpoint(true) // read twice: the max and the argmax join
        val gmax = scored.groupBy("event_type").agg(max("g").as("g_max"))
        scored.join(broadcast(gmax), "event_type")
          .filter(col("g") === col("g_max"))
          .groupBy("event_type")
          .agg(max("nd").as("n_days"), max("t").as("total"),
            min("day").as("cp_day"), max("g_max").as("g_max"))
          .select(col("event_type"), col("n_days"), col("total"),
            col("cp_day"), col("g_max"),
            (expr("(1000000 * g_max) DIV total") +
              coalesce(assert_true(col("g_max") < lit(9223372036854L),
                lit("q206: 1e6*g_max would overflow long; widen to " +
                  "DECIMAL(38,0)")).cast("long"), lit(0L))).as("ratio_ppm"),
            when(expr("g_max >= 10 * total"), 1).otherwise(0).as("shifted"))
          .orderBy("event_type")
      },
      Some("""WITH daily AS (
             |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
             |    CAST(count(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1, 2),
             |tot AS (
             |  SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
             |    CAST(sum(n) AS BIGINT) AS t
             |  FROM daily GROUP BY 1),
             |cum AS (
             |  SELECT event_type, day,
             |    CAST(row_number() OVER w AS BIGINT) AS k,
             |    CAST(sum(n) OVER w AS BIGINT) AS s_k
             |  FROM daily
             |  WINDOW w AS (PARTITION BY event_type ORDER BY day
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             |sc AS (
             |  SELECT c.event_type, c.day, t.nd, t.t,
             |    ((c.s_k * t.nd - c.k * t.t) * (c.s_k * t.nd - c.k * t.t))
             |      // (c.k * (t.nd - c.k)) AS g
             |  FROM cum c JOIN tot t USING (event_type)
             |  WHERE c.k < t.nd),
             |mx AS (SELECT event_type, max(g) AS g_max FROM sc GROUP BY 1)
             |SELECT sc.event_type, CAST(max(sc.nd) AS BIGINT) AS n_days,
             |  CAST(max(sc.t) AS BIGINT) AS total,
             |  CAST(min(sc.day) AS BIGINT) AS cp_day,
             |  CAST(max(mx.g_max) AS BIGINT) AS g_max,
             |  CAST((1000000 * max(mx.g_max)) // max(sc.t) AS BIGINT)
             |    AS ratio_ppm,
             |  CAST(CASE WHEN max(mx.g_max) >= 10 * max(sc.t)
             |    THEN 1 ELSE 0 END AS INT) AS shifted
             |FROM sc JOIN mx ON mx.event_type = sc.event_type
             |  AND sc.g = mx.g_max
             |GROUP BY sc.event_type ORDER BY sc.event_type""".stripMargin)),

    // T36 LTTB downsampling — ClickHouse `largestTriangleThreeBuckets`
    // parity (Steinarsson 2013: per bucket, keep the point forming the
    // largest triangle with its neighbor anchors — the shape-preserving
    // chart downsample), in the standard PARALLEL variant: sequential
    // LTTB anchors on the PREVIOUSLY SELECTED point (an inherently serial
    // chain a cluster cannot parallelize), the parallel form anchors on
    // the neighbor buckets' MEANS — except where the exact LTTB anchor is
    // static anyway: the global first/last points are pinned (buckets 0
    // and 15 select them by contract), so bucket 1's prev anchor and
    // bucket 14's next anchor are the EXACT sequential-LTTB anchors.
    // All-integer: x in bucket-relative millis, y in exact cents, anchors
    // floor-divided means, area in the n1·n2-cleared cross-product form —
    // ordering within a bucket is invariant to those constant clearings,
    // and ties (equal areas) break on the (ts, event_id) total order.
    // The anchor means' SUMS are the one corpus-growing magnitude:
    // guarded per bucket in division form (q199/q206 precedent) —
    // n < 2^63 / (max|xm|+1) and n < 2^63 / (max|y|+1); the area factors
    // themselves are corpus-size-INDEPENDENT (bounded by the series'
    // physical time span in ms × its value range in cents).
    // Scale shape: one corpus scan → broadcast per-type range join →
    // (type, bucket) partial+final agg (constant state) for the anchor
    // table; candidates join the 16-row-per-type anchor/max tables by
    // broadcast; the argmax is the max-join + min_by(ord) two-agg form
    // (never a nondeterministic max_by on ties). Empty interior buckets
    // degrade deterministically: a missing neighbor anchor scores every
    // candidate −1 and the earliest point wins.
    Q("q211_lttb_downsample",
      (s, d) => {
        val B = 16
        val pts = events(s, d)
          .withColumn("x", Scalars.longDiv("ts", 1000L))
          .select(col("event_type"), col("x"),
            Scalars.cents(col("value")).as("y"),
            format_string("%020d-%020d", col("x"), col("event_id"))
              .as("o"))
        val rng = pts.groupBy("event_type")
          .agg(min("x").as("t0"), max("x").as("t1"),
            min_by(struct(col("x"), col("y")), col("o")).as("fp"),
            max_by(struct(col("x"), col("y")), col("o")).as("lp"))
          .select(col("event_type"), col("t0"), col("t1"),
            col("fp.x").as("fx"), col("fp.y").as("fy"),
            col("lp.x").as("lx"), col("lp.y").as("ly"))
          .localCheckpoint(true) // read twice: bucket map + endpoints
        val bp = pts.join(broadcast(rng), "event_type")
          .select(col("event_type"), col("x"), col("y"), col("o"),
            expr("(x - t0) DIV 1000").as("xm"),
            expr(s"((x - t0) * $B) DIV (t1 - t0 + 1)").as("b"),
            expr("(fx - t0) DIV 1000").as("fxm"), col("fy"),
            expr("(lx - t0) DIV 1000").as("lxm"), col("ly"))
          // corpus-sized but read twice (bucket stats + candidates): the
          // r13 sf1 A/B read 2.6-3.0 s checkpointed vs 3.1 s recomputed
          // — inside the host band but consistently ordered (recompute
          // repeats the per-row cents/ord/bucket math) — so materialize:
          // at 100 TB this is the production write of the bucketed
          // projection, amortized across both consumers
          .localCheckpoint(true)
        val bstats = bp.groupBy("event_type", "b")
          .agg(count(lit(1)).as("n"), sum("xm").as("sxm"),
            sum("y").as("syc"), max("xm").as("mxm"),
            max(abs(col("y"))).as("may"), min("y").as("mny"))
          .localCheckpoint(true) // read thrice: anchors + winner/end n
        // `syc DIV n` (Spark truncates toward zero) matches the oracle's
        // `syc // n` (DuckDB floors) ONLY on a non-negative domain — the
        // Scalars.cents contract. Pin it: a future negative-value events
        // table must fail loudly here, not silently diverge (q181
        // sign-split precedent; see CLAUDE.md oracle discipline).
        val means = bstats.select(col("event_type"), col("b"),
          (expr("sxm DIV n") +
            coalesce(assert_true(
              col("n") < expr("9223372036854775807 DIV (mxm + 1)") &&
                col("n") < expr("9223372036854775807 DIV (may + 1)"),
              lit("q211: bucket sum would overflow long; widen the " +
                "anchor sums to DECIMAL(38,0)")).cast("long"), lit(0L)) +
            coalesce(assert_true(col("mny") >= 0,
              lit("q211: negative y violates the Scalars.cents " +
                "non-negative contract; DIV/floor-div diverge — use the " +
                "sign-split CASE form on both sides")).cast("long"),
              lit(0L)))
            .as("axm"),
          expr("syc DIV n").as("ayc"))
        val prevA = means.select(col("event_type"),
          (col("b") + 1).as("b"), col("axm").as("p_axm"),
          col("ayc").as("p_ayc"))
        val nextA = means.select(col("event_type"),
          (col("b") - 1).as("b"), col("axm").as("n_axm"),
          col("ayc").as("n_ayc"))
        val scored = bp.filter(col("b") >= 1 && col("b") <= B - 2)
          .join(broadcast(prevA), Seq("event_type", "b"), "left")
          .join(broadcast(nextA), Seq("event_type", "b"), "left")
          .withColumn("ax1",
            when(col("b") === 1, col("fxm")).otherwise(col("p_axm")))
          .withColumn("ay1",
            when(col("b") === 1, col("fy")).otherwise(col("p_ayc")))
          .withColumn("ax2",
            when(col("b") === B - 2, col("lxm")).otherwise(col("n_axm")))
          .withColumn("ay2",
            when(col("b") === B - 2, col("ly")).otherwise(col("n_ayc")))
          .withColumn("s",
            when(col("ax1").isNull || col("ax2").isNull, lit(-1L))
              .otherwise(abs(
                (col("ax1") - col("ax2")) * (col("y") - col("ay1")) -
                  (col("ax1") - col("xm")) * (col("ay2") - col("ay1")))))
          .localCheckpoint(true) // interior candidates, read twice (max +
          // argmax join) — kept: unlike bp this subtree carries the two
          // broadcast anchor joins, so recompute is not a bare re-scan
        val smax = scored.groupBy("event_type", "b")
          .agg(max("s").as("s_max"))
        val winners = scored.join(broadcast(smax), Seq("event_type", "b"))
          .filter(col("s") === col("s_max"))
          .groupBy(col("event_type"), col("b").as("bucket"))
          .agg(min_by(struct(col("x"), col("y")), col("o")).as("w"),
            max("s_max").as("score"))
          .join(broadcast(bstats.select(col("event_type"),
            col("b").as("bucket"), col("n"))), Seq("event_type", "bucket"))
          .select(col("event_type"), col("bucket"),
            col("w.x").as("ts_us"), col("w.y").as("y_cents"),
            col("n"), col("score"))
        val ends = rng
          .join(broadcast(bstats.filter(col("b") === 0)
            .select(col("event_type"), col("n").as("n0"))),
            Seq("event_type"), "left")
          .join(broadcast(bstats.filter(col("b") === B - 1)
            .select(col("event_type"), col("n").as("nl"))),
            Seq("event_type"), "left")
        val first = ends.select(col("event_type"), lit(0L).as("bucket"),
          col("fx").as("ts_us"), col("fy").as("y_cents"),
          coalesce(col("n0"), lit(0L)).as("n"), lit(0L).as("score"))
        val last = ends.select(col("event_type"),
          lit((B - 1).toLong).as("bucket"), col("lx").as("ts_us"),
          col("ly").as("y_cents"), coalesce(col("nl"), lit(0L)).as("n"),
          lit(0L).as("score"))
        winners.unionByName(first).unionByName(last)
          .orderBy("event_type", "bucket")
      },
      Some(s"""WITH pts AS (
             |  SELECT event_type, epoch_us(ts) AS x,
             |    ${Scalars.centsSql("value")} AS y,
             |    printf('%020d-%020d', epoch_us(ts), event_id) AS o
             |  FROM events),
             |rng AS MATERIALIZED (
             |  SELECT event_type, min(x) AS t0, max(x) AS t1,
             |    arg_min(x, o) AS fx, arg_min(y, o) AS fy,
             |    arg_max(x, o) AS lx, arg_max(y, o) AS ly
             |  FROM pts GROUP BY 1),
             |bp AS MATERIALIZED (
             |  SELECT p.event_type, p.x, p.y, p.o,
             |    (p.x - r.t0) // 1000 AS xm,
             |    ((p.x - r.t0) * 16) // (r.t1 - r.t0 + 1) AS b,
             |    (r.fx - r.t0) // 1000 AS fxm, r.fy AS fy,
             |    (r.lx - r.t0) // 1000 AS lxm, r.ly AS ly
             |  FROM pts p JOIN rng r USING (event_type)),
             |bstats AS MATERIALIZED (
             |  SELECT event_type, b, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(xm) AS BIGINT) AS sxm,
             |    CAST(sum(y) AS BIGINT) AS syc
             |  FROM bp GROUP BY 1, 2),
             |means AS MATERIALIZED (
             |  SELECT event_type, b, sxm // n AS axm, syc // n AS ayc
             |  FROM bstats),
             |sc AS MATERIALIZED (
             |  SELECT c.event_type, c.b, c.x, c.y, c.o,
             |    CASE WHEN (CASE WHEN c.b = 1 THEN c.fxm
             |                 ELSE p.axm END) IS NULL
             |           OR (CASE WHEN c.b = 14 THEN c.lxm
             |                 ELSE nx.axm END) IS NULL
             |      THEN -1
             |      ELSE abs(
             |        ((CASE WHEN c.b = 1 THEN c.fxm ELSE p.axm END)
             |          - (CASE WHEN c.b = 14 THEN c.lxm ELSE nx.axm END))
             |        * (c.y - (CASE WHEN c.b = 1 THEN c.fy
             |                    ELSE p.ayc END))
             |        - ((CASE WHEN c.b = 1 THEN c.fxm ELSE p.axm END)
             |            - c.xm)
             |        * ((CASE WHEN c.b = 14 THEN c.ly ELSE nx.ayc END)
             |          - (CASE WHEN c.b = 1 THEN c.fy ELSE p.ayc END)))
             |      END AS s
             |  FROM bp c
             |  LEFT JOIN means p
             |    ON p.event_type = c.event_type AND p.b = c.b - 1
             |  LEFT JOIN means nx
             |    ON nx.event_type = c.event_type AND nx.b = c.b + 1
             |  WHERE c.b BETWEEN 1 AND 14),
             |mx AS (SELECT event_type, b, max(s) AS s_max
             |       FROM sc GROUP BY 1, 2),
             |win AS (
             |  SELECT sc.event_type, sc.b AS bucket,
             |    arg_min(sc.x, sc.o) AS ts_us,
             |    arg_min(sc.y, sc.o) AS y_cents, max(mx.s_max) AS score
             |  FROM sc JOIN mx ON mx.event_type = sc.event_type
             |    AND mx.b = sc.b AND sc.s = mx.s_max
             |  GROUP BY 1, 2),
             |winn AS (
             |  SELECT w.event_type, w.bucket, w.ts_us, w.y_cents,
             |    bs.n, w.score
             |  FROM win w JOIN bstats bs
             |    ON bs.event_type = w.event_type AND bs.b = w.bucket),
             |ends AS (
             |  SELECT r.event_type, 0 AS bucket, r.fx AS ts_us,
             |    r.fy AS y_cents, coalesce(b0.n, 0) AS n, 0 AS score
             |  FROM rng r LEFT JOIN bstats b0
             |    ON b0.event_type = r.event_type AND b0.b = 0
             |  UNION ALL
             |  SELECT r.event_type, 15, r.lx, r.ly,
             |    coalesce(bl.n, 0), 0
             |  FROM rng r LEFT JOIN bstats bl
             |    ON bl.event_type = r.event_type AND bl.b = 15)
             |SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
             |  ts_us, y_cents, CAST(n AS BIGINT) AS n,
             |  CAST(score AS BIGINT) AS score
             |FROM (SELECT * FROM winn UNION ALL SELECT * FROM ends)
             |ORDER BY event_type, bucket""".stripMargin)),

    // X97 materialized-aggregate maintenance — the AggregatingMergeTree /
    // materialized-view analog of the reference's engine (ClickHouse
    // 23.4): exact measures maintained as a persisted (event_type, day)
    // partial-state table that per-batch folds update and rollup
    // consumers read INSTEAD of the raw facts (pipelines/AggPipeline —
    // fold-vs-scratch bit-identity and the q204/q197/q199 derivations
    // are spec-pinned there). THIS query is the steady-state consumer
    // read: the WEEKLY OHLC rollup derived by RE-AGGREGATING the
    // maintained daily state (AggPipeline.regrain — counts and decimal
    // sums add, min/max fold, open/close merge on their carried ord
    // keys), with NO events scan anywhere in its plan (PlanSpec-gated;
    // the state table is a first-touch LayoutCache artifact, the
    // q112/q115 maintained-index production shape). The oracle replays
    // the rollup FROM RAW — equality is exactly the MV-consistency
    // guarantee a warehouse needs before it dares serve dashboards from
    // the maintained table.
    // Scale shape: the declared plan reads a types×days-sized parquet
    // table and re-aggregates it to types×weeks — constant work at ANY
    // corpus size; the corpus-proportional cost happened once, at fold
    // time, one batch at a time.
    Q("q213_agg_mv",
      (s, d) => {
        val st = graft.pipelines.AggPipeline.cachedState(s, d)
        graft.pipelines.AggPipeline.ohlc(
            graft.pipelines.AggPipeline.regrain(st, 7))
          .withColumnRenamed("day", "week")
          .orderBy("event_type", "week")
      },
      Some(s"""WITH b AS (
             |  SELECT event_type,
             |    (epoch_us(ts) // 86400000000) // 7 AS week,
             |    printf('%020d-%020d', epoch_us(ts), event_id) AS ord,
             |    value
             |  FROM events)
             |SELECT event_type, CAST(week AS BIGINT) AS week,
             |  arg_min(value, ord) AS open, max(value) AS high,
             |  min(value) AS low, arg_max(value, ord) AS close,
             |  CAST(count(*) AS BIGINT) AS n_events,
             |  ${Scalars.moneySumSql("value")} AS vol
             |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // X102 grain COMPOSITION on the maintained aggregate (X97's claim
    // made driver-visible, VERDICT r14 #5): the monthly (4-week) OHLC
    // rollup derived by re-aggregating the WEEKLY regrain of the daily
    // state — regrain(regrain(state, 7), 4), i.e. monthly-from-weekly,
    // not monthly-from-daily. Exact because regrain output is again
    // partial state and merge is associative ((day DIV 7) DIV 4 =
    // day DIV 28 on the non-negative epoch domain), so composing grains
    // equals regraining from daily — AggPipelineSpec pins the
    // bit-identity, THIS row pins the composed read against a from-raw
    // DuckDB replay where the driver sees it. Same q213 scale shape:
    // the declared plan reads the types×days state parquet only (no
    // events scan — PlanSpec gates q213's identical source) and every
    // re-aggregation runs on state-sized rows.
    Q("q223_agg_mv_monthly",
      (s, d) => {
        val st = graft.pipelines.AggPipeline.cachedState(s, d)
        val weekly = graft.pipelines.AggPipeline.regrain(st, 7)
        graft.pipelines.AggPipeline.ohlc(
            graft.pipelines.AggPipeline.regrain(weekly, 4))
          .withColumnRenamed("day", "p28")
          .orderBy("event_type", "p28")
      },
      Some(s"""WITH b AS (
             |  SELECT event_type,
             |    (epoch_us(ts) // 86400000000) // 28 AS p28,
             |    printf('%020d-%020d', epoch_us(ts), event_id) AS ord,
             |    value
             |  FROM events)
             |SELECT event_type, CAST(p28 AS BIGINT) AS p28,
             |  arg_min(value, ord) AS open, max(value) AS high,
             |  min(value) AS low, arg_max(value, ord) AS close,
             |  CAST(count(*) AS BIGINT) AS n_events,
             |  ${Scalars.moneySumSql("value")} AS vol
             |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // T38 interval-union length — ClickHouse `intervalLengthSum` parity:
    // per event_type, the total time COVERED when every event opens a
    // fixed 1-hour activity window [ts, ts+1h) — overlaps merged, the
    // sweep-line union. The coverage readout behind "how continuously is
    // this feed active" (T19's streaks count days; this measures the
    // union at full timestamp resolution). Exact integer ns: with
    // intervals sorted by start, each row adds min(ts − prev_ts, L) and
    // the first adds L — the union length with no segment
    // materialization (the q55 sessionize gap identity). Duplicate
    // timestamps contribute 0 whatever the tie order, so the statistic
    // is deterministic; the coverage ratio is the identical-IEEE-tree
    // double over (covered, span).
    // Scale shape: one map-side-combinable count agg contracts facts to
    // DISTINCT (type, ts) — duplicates add min(0, L) = 0, so the
    // contraction is result-identical by the gap identity (q164
    // dedup-before-window precedent) — then the per-type lag window runs
    // over the contracted table (bounded by distinct timestamps, never
    // corpus/|types| fact rows) and a final agg. 2 columns through the
    // exchange.
    Q("q229_interval_cover",
      (s, d) => intervalCover(
        events(s, d).select(col("event_type"), col("ts")),
        3600L * 1000000000L)
        .orderBy("event_type"),
      Some("""WITH e AS (
             |  SELECT event_type, epoch_ns(ts) AS ts, event_id
             |  FROM events),
             |l AS (
             |  SELECT event_type, ts,
             |    lag(ts) OVER (PARTITION BY event_type
             |      ORDER BY ts, event_id) AS prev_ts
             |  FROM e),
             |p AS (
             |  SELECT event_type,
             |    CAST(count(*) AS BIGINT) AS n_events,
             |    CAST(sum(CASE WHEN prev_ts IS NULL THEN 3600000000000
             |      ELSE least(ts - prev_ts, 3600000000000) END)
             |      AS BIGINT) AS covered_ns,
             |    CAST(max(ts) - min(ts) + 3600000000000 AS BIGINT)
             |      AS span_ns
             |  FROM l GROUP BY 1)
             |SELECT event_type, n_events, covered_ns, span_ns,
             |  CAST(covered_ns AS DOUBLE) / CAST(span_ns AS DOUBLE)
             |    AS coverage
             |FROM p ORDER BY event_type""".stripMargin)),

    // T39 peak concurrency — ClickHouse `maxIntersections` /
    // `maxIntersectionsPosition` parity, T38's natural pair: per
    // event_type, the MAXIMUM number of simultaneously-open 1-hour
    // windows [ts, ts+1h) and the earliest timestamp where that peak is
    // reached (T38 asks "how much time is covered"; this asks "how deep
    // does the overlap stack" — the concurrency/capacity readout).
    // Exact integer sweep-line: every event contributes a +1 boundary at
    // ts and a −1 at ts+1h; boundaries CONTRACT to distinct (type, t)
    // with summed net delta BEFORE the window (the q229 discipline —
    // result-identical because the prefix sum at distinct-t granularity
    // hits the same values the fine close-before-open sweep does:
    // within one t the count dips then rises, and both endpoints are
    // prefix values), then one keyed running sum + max + argmin-t. The
    // close-before-open tie rule (a window closing exactly when another
    // opens does NOT overlap it) is the half-open-interval semantics
    // and falls out of the net-delta contraction for free.
    // Scale shape: one map-side-combinable boundary agg (bounded by
    // distinct timestamps ×2, never fact rows), one keyed lag-class
    // window over the contracted table, a types-sized broadcast back
    // for the argmin. 2 columns through every exchange.
    Q("q231_max_intersections",
      (s, d) => maxIntersections(
        events(s, d).select(col("event_type"), col("ts")),
        3600L * 1000000000L)
        .orderBy("event_type"),
      Some("""WITH e AS (
             |  SELECT event_type, epoch_ns(ts) AS ts FROM events),
             |b AS (
             |  SELECT event_type, t, CAST(sum(d) AS BIGINT) AS d FROM (
             |    SELECT event_type, ts AS t, 1 AS d FROM e
             |    UNION ALL
             |    SELECT event_type, ts + 3600000000000 AS t, -1 AS d
             |    FROM e) u
             |  GROUP BY 1, 2),
             |c AS (
             |  SELECT event_type, t,
             |    CAST(sum(d) OVER (PARTITION BY event_type ORDER BY t
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS cum
             |  FROM b),
             |p AS (SELECT event_type, max(cum) AS peak FROM c GROUP BY 1)
             |SELECT c.event_type, CAST(p.peak AS BIGINT) AS peak,
             |  CAST(min(c.t) AS BIGINT) AS peak_ts
             |FROM c JOIN p ON c.event_type = p.event_type
             |  AND c.cum = p.peak
             |GROUP BY 1, 2
             |ORDER BY c.event_type""".stripMargin)),

    // T40 exponential moving average of the daily event rate —
    // ClickHouse `exponentialMovingAverage(halflife)` parity with the
    // integer decay-table discipline (T24's q168 precedent: NO pow()/
    // exp() — IEEE transcendentals diverge cross-engine in the last
    // ulp): halflife = 1 day on the day grain makes every weight an
    // EXACT power of two, 2^(day − d_max), built by bit shift in both
    // engines. Contributions older than 40 days (< 2^−40 of the newest
    // weight) truncate — part of the statistic's definition, replayed
    // in the oracle. ema = Σ n_d·2^(40−age) / Σ 2^(40−age): both sums
    // exact BIGINT (41 terms × 2^40 × n_d with n_d < 2^21 loudly
    // guarded stays inside 2^63), the ratio is ONE correctly-rounded
    // double division — bit-identical, full oracle. The recency-
    // weighted rate readout beside T37 (trend) and T24 (decay score).
    // Scale shape: corpus-sized work ends at the shared T31
    // (type, day) partial+final agg; d_max joins back as a types-sized
    // broadcast; the shifted sums run on types×41 rows.
    Q("q234_ema_rate",
      (s, d) => emaFromDaily(typeDailyCounts(events(s, d))),
      Some("""WITH daily AS (
             |  SELECT event_type,
             |    epoch_ns(ts) // 86400000000000 AS day,
             |    CAST(count(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1, 2),
             |m AS (SELECT event_type, max(day) AS d_max
             |  FROM daily GROUP BY 1),
             |w AS (
             |  SELECT daily.event_type, n,
             |    (CAST(1 AS BIGINT) << CAST(40 - (d_max - day) AS INT))
             |      AS w
             |  FROM daily JOIN m ON daily.event_type = m.event_type
             |  WHERE d_max - day <= 40),
             |p AS (
             |  SELECT event_type,
             |    CAST(count(*) AS BIGINT) AS n_days_used,
             |    CAST(sum(n * w) AS BIGINT) AS num,
             |    CAST(sum(w) AS BIGINT) AS den
             |  FROM w GROUP BY 1)
             |SELECT event_type, n_days_used, num, den,
             |  CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS ema_rate
             |FROM p ORDER BY event_type""".stripMargin)),

    // T41 greedy non-overlapping sequence counting — ClickHouse
    // `sequenceCount` parity, the counting twin of T30's boolean
    // sequenceMatch (q190): per user, how MANY times does the
    // signup→purchase chain complete, scanning left to right and
    // consuming each event at most once (CH's greedy automaton)?
    // Two pattern grains share one reduction: 'adjacent' counts
    // directly-consecutive s,p pairs (CH '(?1)(?2)'), 'eventual'
    // counts s ... p with anything between (CH '(?1).*(?2)'). The
    // greedy automaton for a 2-step chain IS leftmost non-overlapping
    // regex matching on the per-user symbol string — arm at the first
    // unconsumed s, fire at the next p — so regexp_count(sq, 's[^p]*p')
    // replays it exactly (the [^p] makes the match end at the FIRST
    // p after arming, which is what frees the automaton to re-arm);
    // both engines' regex scans are leftmost non-overlapping, so the
    // integer counts agree exactly. Readout per pattern: total matches,
    // users with ≥ 1 match, and the per-user maximum.
    // Scale shape: the q190 contract verbatim — ONE corpus-sized
    // groupBy(user) whose per-group state is the user's own event
    // symbols (bounded by user activity, the CH per-user window
    // economics); the regex counting and the 2-row stack run on the
    // users-sized table. No window, no join.
    Q("q235_sequence_count",
      (s, d) => sequenceCounts(events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))),
      Some("""WITH s AS (
             |  SELECT user_id,
             |    string_agg(substr(event_type, 1, 1), ''
             |      ORDER BY epoch_ns(ts), event_id) AS sq
             |  FROM events GROUP BY user_id),
             |c AS (
             |  SELECT
             |    CAST(len(regexp_extract_all(sq, 'sp')) AS BIGINT)
             |      AS adjacent,
             |    CAST(len(regexp_extract_all(sq, 's[^p]*p')) AS BIGINT)
             |      AS eventual
             |  FROM s),
             |m AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n_users,
             |    CAST(sum(adjacent) AS BIGINT) AS t_adj,
             |    CAST(sum(CASE WHEN adjacent > 0 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS u_adj,
             |    CAST(max(adjacent) AS BIGINT) AS m_adj,
             |    CAST(sum(eventual) AS BIGINT) AS t_evt,
             |    CAST(sum(CASE WHEN eventual > 0 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS u_evt,
             |    CAST(max(eventual) AS BIGINT) AS m_evt
             |  FROM c)
             |SELECT p.pattern, p.total_matches, p.users_matched,
             |  p.max_per_user, m.n_users
             |FROM m, (
             |  SELECT 'adjacent' AS pattern, t_adj AS total_matches,
             |    u_adj AS users_matched, m_adj AS max_per_user FROM m
             |  UNION ALL SELECT 'eventual', t_evt, u_evt, m_evt
             |  FROM m) p
             |ORDER BY p.pattern""".stripMargin)),

    // A33 first-to-last slope — ClickHouse `boundingRatio(x, y)` parity:
    // per event_type, the slope of the line through the (min-ts, value)
    // and (max-ts, value) points — the cheapest "where did this series
    // start vs end" readout beside T37's least-squares trend (T37 fits
    // all points; this reads exactly two). Tie rule (CH leaves it
    // unspecified — an oracle can't): at the min ts take the MIN cents,
    // at the max ts the MAX cents, made deterministic WITHOUT a second
    // pass by exact integer packing — pack = ts·10⁵ + cents is exact in
    // DECIMAL(38,0)/HUGEINT (ts ~1.7e18 ns × 10⁵ ≪ 10³⁸; cents < 10⁵ by
    // the Scalars.cents domain), so min(pack)/max(pack) select the
    // boundary rows and % 10⁵ recovers the values, all in one
    // partial+final agg. The slope is then ONE mirrored IEEE tree
    // (cents→dollars, ns→days) over exact integers — bit-identical.
    // Scale shape: one corpus-sized map-side-combinable agg over a
    // pruned 3-column scan; the slope algebra runs on the types-sized
    // table. No window, no join, no second pass.
    Q("q236_bounding_ratio",
      (s, d) => boundingRatio(events(s, d).select(col("event_type"),
        col("ts"), Scalars.cents(col("value")).as("cents"))),
      Some(s"""WITH e AS (
             |  SELECT event_type, epoch_ns(ts) AS ts,
             |    ${Scalars.centsSql("value")} AS cents
             |  FROM events),
             |p AS (
             |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
             |    min(ts) AS tmin, max(ts) AS tmax,
             |    min(CAST(ts AS HUGEINT) * 100000 + cents) AS pack_min,
             |    max(CAST(ts AS HUGEINT) * 100000 + cents) AS pack_max
             |  FROM e GROUP BY 1),
             |v AS (
             |  SELECT event_type, n_events,
             |    CAST(pack_min % 100000 AS BIGINT) AS v_first,
             |    CAST(pack_max % 100000 AS BIGINT) AS v_last,
             |    CAST(tmax - tmin AS BIGINT) AS span_ns
             |  FROM p WHERE tmax > tmin)
             |SELECT event_type, n_events, v_first, v_last, span_ns,
             |  (CAST(v_last - v_first AS DOUBLE) / 100.0) /
             |    (CAST(span_ns AS DOUBLE) / 86400000000000.0)
             |    AS slope_per_day
             |FROM v ORDER BY event_type""".stripMargin)),

    // A35 terminal sparkline render — ClickHouse `sparkbar(width)`
    // parity: per event_type, the daily-count series compressed into a
    // 16-bucket bar string — the dataset-card/monitoring glanceable
    // (X50's dataset card carries numbers; this carries the shape).
    // All-integer: day = ns DIV 86 400e9, bucket = (day − dmin)·16 DIV
    // (span), height = ceil(8·n/max_n) via (n·8 + max_n − 1) DIV max_n
    // ∈ 1..8 for occupied buckets (the type's own max fills the bar —
    // CH's per-group normalization), empty buckets render '.'. The
    // glyph is substring('▁▂▃▄▅▆▇█', h, 1) — both engines index by
    // CHARACTER, so the multibyte block glyphs are safe — and the bar
    // assembles with the q34/q190 ordered-string convention (declared
    // output stays a pandas-sortable VARCHAR).
    // Scale shape: corpus work ends at the shared T31 (type, day)
    // partial+final agg; the global span is a 1-row broadcast; bucket
    // re-agg, spine join (types×16, broadcast), and the render all run
    // on bounded tables. No fact-row window.
    Q("q238_sparkbar",
      (s, d) => sparkbar16(typeDailyCounts(
        events(s, d).select(col("event_type"), col("ts")))),
      Some("""WITH daily AS (
             |  SELECT event_type,
             |    epoch_ns(ts) // 86400000000000 AS day,
             |    CAST(count(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1, 2),
             |g AS (SELECT min(day) AS dmin, max(day) AS dmax FROM daily),
             |b AS (
             |  SELECT event_type,
             |    ((day - dmin) * 16) // (dmax - dmin + 1) AS bucket,
             |    CAST(sum(n) AS BIGINT) AS nb
             |  FROM daily, g GROUP BY 1, 2),
             |mx AS (SELECT event_type, max(nb) AS max_n FROM b GROUP BY 1),
             |spine AS (
             |  SELECT mx.event_type, mx.max_n, r.bucket
             |  FROM mx, (SELECT unnest(range(0, 16)) AS bucket) r),
             |h AS (
             |  SELECT spine.event_type, spine.max_n, spine.bucket,
             |    CASE WHEN b.nb IS NULL THEN 0
             |      ELSE CAST((b.nb * 8 + spine.max_n - 1) // spine.max_n
             |        AS INT) END AS h
             |  FROM spine LEFT JOIN b ON spine.event_type = b.event_type
             |    AND spine.bucket = b.bucket)
             |SELECT event_type, CAST(max(max_n) AS BIGINT) AS max_n,
             |  string_agg(CASE WHEN h = 0 THEN '.'
             |    ELSE substr('▁▂▃▄▅▆▇█', h, 1) END, ''
             |    ORDER BY bucket) AS bar
             |FROM h GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // A36 exact audience set algebra — ClickHouse `groupBitmapAnd/Or/
    // Xor` parity, the EXACT twin of X34's KMV-sketched overlap (q122
    // estimates |A∩B| from 256-minima summaries; this computes the
    // true bitmap algebra): per ordered event-type pair, |A∩B| from a
    // user-keyed equi-join of the DISTINCT (type, user) contraction,
    // then |A∪B| = |A|+|B|−|A∩B| and |A⊕B| = |A∪B|−|A∩B| by
    // inclusion-exclusion (no second join), plus the exact Jaccard in
    // ppm (integer DIV, non-negative domain). Pairs with an empty
    // intersection are absent by construction (inner join) — the
    // declared contract reports co-occurring pairs.
    // Scale shape: ONE corpus-sized distinct contraction (map-side
    // combinable, the q167/q139 distinct-first discipline), then a
    // user-keyed equi-join — bounded by users × types², shuffles on
    // user so it scales out with executors — with the types-sized size
    // table broadcast back twice. Raw events never join.
    Q("q239_bitmap_audience",
      (s, d) => bitmapAudience(events(s, d)
        .select(col("event_type"), col("user_id"))),
      Some("""WITH tu AS (
             |  SELECT DISTINCT event_type, user_id FROM events),
             |sz AS (
             |  SELECT event_type, CAST(count(*) AS BIGINT) AS sz
             |  FROM tu GROUP BY 1),
             |pr AS (
             |  SELECT a.event_type AS type_a, b.event_type AS type_b,
             |    CAST(count(*) AS BIGINT) AS inter
             |  FROM tu a JOIN tu b ON a.user_id = b.user_id
             |    AND a.event_type < b.event_type
             |  GROUP BY 1, 2)
             |SELECT pr.type_a, pr.type_b, sa.sz AS n_a, sb.sz AS n_b,
             |  pr.inter,
             |  sa.sz + sb.sz - pr.inter AS uni,
             |  sa.sz + sb.sz - pr.inter - pr.inter AS xr,
             |  CAST((1000000 * pr.inter) // (sa.sz + sb.sz - pr.inter)
             |    AS BIGINT) AS jaccard_ppm
             |FROM pr JOIN sz sa ON pr.type_a = sa.event_type
             |  JOIN sz sb ON pr.type_b = sb.event_type
             |ORDER BY pr.type_a, pr.type_b""".stripMargin)),

    // T42 next-node distribution — ClickHouse `sequenceNextNode`
    // (forward, head) parity: WHAT happens right after the entry event —
    // per user, the event immediately following the user's FIRST signup
    // in (ts, event_id) order, aggregated into the "next step from
    // signup" distribution (T12's funnel asks "did they reach step k";
    // this asks "where do they actually go next" — the funnel-design
    // input). Pure integer/string ops on the per-user symbol string:
    // first signup via strpos/instr (1-based, 0 = absent in BOTH
    // engines), the next symbol via substr(i+1, 1), '' (signup was the
    // user's last event) mapped to '(end)' — no regex needed; users
    // with no signup are excluded (CH returns NULL for them). share_ppm
    // is the exact integer DIV over the qualifying-user total.
    // Scale shape: the q190/q235 contract — ONE corpus groupBy(user)
    // with per-group state bounded by user activity; the distribution
    // agg and the 1-row total broadcast run on symbols-sized tables
    // (≤ |event types| + 1 rows). No window.
    Q("q240_next_node",
      (s, d) => nextNodeDist(events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))),
      Some("""WITH s AS (
             |  SELECT user_id,
             |    string_agg(substr(event_type, 1, 1), ''
             |      ORDER BY epoch_ns(ts), event_id) AS sq
             |  FROM events GROUP BY user_id),
             |x AS (
             |  SELECT CASE WHEN substr(sq, strpos(sq, 's') + 1, 1) = ''
             |      THEN '(end)'
             |      ELSE substr(sq, strpos(sq, 's') + 1, 1) END AS nxt
             |  FROM s WHERE strpos(sq, 's') > 0),
             |c AS (
             |  SELECT nxt, CAST(count(*) AS BIGINT) AS n_users
             |  FROM x GROUP BY 1),
             |t AS (SELECT CAST(sum(n_users) AS BIGINT) AS tot FROM c)
             |SELECT c.nxt, c.n_users, t.tot,
             |  CAST((1000000 * c.n_users) // t.tot AS BIGINT)
             |    AS share_ppm
             |FROM c, t
             |ORDER BY c.nxt""".stripMargin))
  )

  /** T41 greedy non-overlapping sequence counts over per-user event
    * streams — ClickHouse `sequenceCount` parity; see q235's scaladoc
    * for the regex ≡ greedy-automaton argument. Input: (user_id, ts,
    * event_id, event_type); output: 2 rows (pattern, total_matches,
    * users_matched, max_per_user, n_users).
    */
  private[graft] def sequenceCounts(
      ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val seqs = ev
      .select(col("user_id"), col("ts"), col("event_id"),
        substring(col("event_type"), 1, 1).as("ini"))
      .groupBy("user_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("ts"), col("event_id"),
          col("ini")))),
        x => x.getField("ini")), "").as("sq"))
    val c = seqs.select(
      expr("CAST(regexp_count(sq, 'sp') AS BIGINT)").as("adjacent"),
      expr("CAST(regexp_count(sq, 's[^p]*p') AS BIGINT)").as("eventual"))
    val m = c.agg(
      count(lit(1)).as("n_users"),
      sum(col("adjacent")).as("t_adj"),
      sum(when(col("adjacent") > 0, 1L).otherwise(0L)).as("u_adj"),
      max(col("adjacent")).as("m_adj"),
      sum(col("eventual")).as("t_evt"),
      sum(when(col("eventual") > 0, 1L).otherwise(0L)).as("u_evt"),
      max(col("eventual")).as("m_evt"))
    m.select(expr(
        "stack(2, 'adjacent', t_adj, u_adj, m_adj, " +
          "'eventual', t_evt, u_evt, m_evt) " +
          "AS (pattern, total_matches, users_matched, max_per_user)"),
        col("n_users"))
      .orderBy("pattern")
  }

  /** A33 first-to-last slope — ClickHouse `boundingRatio` parity; see
    * q236's scaladoc for the DECIMAL(38,0) ts·10⁵+cents packing that
    * makes the boundary-row tie rule deterministic in ONE agg. Input:
    * (event_type, ts epoch-ns, cents ∈ [0, 10⁵)).
    */
  private[graft] def boundingRatio(
      ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    ev.withColumn("pack",
        expr("CAST(ts AS DECIMAL(38,0)) * 100000 + cents"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        min("ts").as("tmin"), max("ts").as("tmax"),
        min("pack").as("pack_min"), max("pack").as("pack_max"))
      .filter(col("tmax") > col("tmin"))
      .withColumn("v_first", expr("CAST(pack_min % 100000 AS BIGINT)"))
      .withColumn("v_last", expr("CAST(pack_max % 100000 AS BIGINT)"))
      .withColumn("span_ns", (col("tmax") - col("tmin")).cast("long"))
      // slope tree mirrored textually by the q236 oracle — in lockstep
      .withColumn("slope_per_day", expr(
        "(CAST(v_last - v_first AS DOUBLE) / 100.0) / " +
          "(CAST(span_ns AS DOUBLE) / 86400000000000.0)"))
      .select("event_type", "n_events", "v_first", "v_last",
        "span_ns", "slope_per_day")
      .orderBy("event_type")

  /** A35 16-bucket sparkline — ClickHouse `sparkbar` parity over a
    * (event_type, day, n) daily table; see q238's scaladoc. Like
    * fanoFromDaily/trendFromDaily/emaFromDaily this is a CONSUMER of
    * the X97 maintained aggregate state — any daily table renders.
    */
  private[graft] def sparkbar16(
      daily: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val g = daily.agg(min("day").as("dmin"), max("day").as("dmax"))
    val b = daily.join(broadcast(g))
      .withColumn("bucket",
        expr("((day - dmin) * 16) DIV (dmax - dmin + 1)"))
      .groupBy("event_type", "bucket").agg(sum("n").as("nb"))
    val mx = b.groupBy("event_type").agg(max("nb").as("max_n"))
    val spine = mx.select(col("event_type"), col("max_n"),
      explode(sequence(lit(0), lit(15))).as("bucket"))
    spine.join(b, Seq("event_type", "bucket"), "left")
      .withColumn("h", expr("CASE WHEN nb IS NULL THEN 0 ELSE " +
        "CAST((nb * 8 + max_n - 1) DIV max_n AS INT) END"))
      .withColumn("ch", expr("CASE WHEN h = 0 THEN '.' ELSE " +
        "substring('▁▂▃▄▅▆▇█', h, 1) END"))
      .groupBy("event_type")
      .agg(max("max_n").as("max_n"),
        array_join(transform(
          array_sort(collect_list(struct(col("bucket"), col("ch")))),
          x => x.getField("ch")), "").as("bar"))
      .orderBy("event_type")
  }

  /** A36 exact audience set algebra — ClickHouse `groupBitmapAnd/Or/
    * Xor` parity; see q239's scaladoc. Input: (event_type, user_id),
    * possibly with duplicates — the distinct contraction happens here.
    */
  private[graft] def bitmapAudience(
      ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val tu = ev.select(col("event_type"), col("user_id")).distinct()
    val sizes = tu.groupBy("event_type").agg(count(lit(1)).as("sz"))
    val pairs = tu.as("a").join(tu.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(broadcast(sizes.withColumnRenamed("event_type", "type_a")
        .withColumnRenamed("sz", "n_a")), "type_a")
      .join(broadcast(sizes.withColumnRenamed("event_type", "type_b")
        .withColumnRenamed("sz", "n_b")), "type_b")
      .withColumn("uni", col("n_a") + col("n_b") - col("inter"))
      .withColumn("xr", col("uni") - col("inter"))
      .withColumn("jaccard_ppm", expr("(1000000 * inter) DIV uni"))
      .select("type_a", "type_b", "n_a", "n_b", "inter", "uni",
        "xr", "jaccard_ppm")
      .orderBy("type_a", "type_b")
  }

  /** T42 next-node distribution after the first signup — ClickHouse
    * `sequenceNextNode(forward, head)` parity; see q240's scaladoc.
    * Input: (user_id, ts, event_id, event_type).
    */
  private[graft] def nextNodeDist(
      ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val seqs = ev
      .select(col("user_id"), col("ts"), col("event_id"),
        substring(col("event_type"), 1, 1).as("ini"))
      .groupBy("user_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("ts"), col("event_id"),
          col("ini")))),
        x => x.getField("ini")), "").as("sq"))
    val c = seqs
      .filter(expr("instr(sq, 's') > 0"))
      .select(expr("CASE WHEN substring(sq, instr(sq, 's') + 1, 1) = ''" +
        " THEN '(end)' ELSE substring(sq, instr(sq, 's') + 1, 1) END")
        .as("nxt"))
      .groupBy("nxt").agg(count(lit(1)).as("n_users"))
    val t = c.agg(sum("n_users").as("tot"))
    c.crossJoin(broadcast(t))
      .withColumn("share_ppm", expr("(1000000 * n_users) DIV tot"))
      .select("nxt", "n_users", "tot", "share_ppm")
      .orderBy("nxt")
  }

  /** T33 corpus-sized stage of q204: the (event_type, day) OHLC agg.
    * Exposed separately because it is also the STREAMING fold of the
    * OHLC monitor — min_by/max_by/min/max/sum/count are all associative
    * with constant partial state, so the complete-mode sink table equals
    * the batch agg exactly (`StreamingSpec` T33s pins it).
    */
  /** T38 interval-union length over point events opening fixed-length
    * [ts, ts+L) windows: per type, each sorted row adds
    * min(ts − prev_ts, L) and the first adds L — the sweep-line union
    * with no segment materialization (the q55 gap identity).
    *
    * The lag window runs over the DISTINCT (type, ts) contraction, not
    * fact rows: a duplicate timestamp contributes min(0, L) = 0 by the
    * gap identity, so pre-aggregating to (type, ts, count) first is
    * result-identical by construction (the q164 dedup-before-window
    * precedent) — and it bounds each per-type sort partition by distinct
    * timestamps instead of corpus/|types| (with ~5 types, a fact-row
    * window means 5 corpus-fifth-sized sort partitions at 100 TB; the
    * contraction is also what makes the statistic tie-order-
    * deterministic without an event_id tiebreak). One map-side-
    * combinable count agg, one keyed lag window over the contracted
    * table, one final agg.
    */
  private[graft] def intervalCover(ev: org.apache.spark.sql.DataFrame,
      lenNs: Long): org.apache.spark.sql.DataFrame = {
    val h = ev.groupBy("event_type", "ts").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("event_type").orderBy(col("ts"))
    h.withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("contrib",
        when(col("prev_ts").isNull, lit(lenNs))
          .otherwise(least(col("ts") - col("prev_ts"), lit(lenNs))))
      .groupBy("event_type")
      .agg(sum("c").as("n_events"),
        sum("contrib").as("covered_ns"),
        (max("ts") - min("ts") + lit(lenNs)).as("span_ns"))
      .withColumn("coverage", expr(
        "CAST(covered_ns AS DOUBLE) / CAST(span_ns AS DOUBLE)"))
  }

  /** T39 peak concurrency over point events opening fixed-length
    * [ts, ts+L) windows — ClickHouse `maxIntersections(Position)`: the
    * sweep-line max of the open-window count, with the earliest peak
    * timestamp. Boundaries (+1 at ts, −1 at ts+L) contract to distinct
    * (type, t) net deltas before the keyed running-sum window — exact
    * under half-open (close-before-open) semantics because the dip-
    * then-rise inside one t has both its endpoints among the distinct-t
    * prefix values; see q231's scaladoc. Peak join is a types-sized
    * broadcast.
    */
  private[graft] def maxIntersections(ev: org.apache.spark.sql.DataFrame,
      lenNs: Long): org.apache.spark.sql.DataFrame = {
    val bounds = ev
      .select(col("event_type"), col("ts").as("t"), lit(1L).as("d"))
      .unionAll(ev.select(col("event_type"),
        (col("ts") + lit(lenNs)).as("t"), lit(-1L).as("d")))
      .groupBy("event_type", "t").agg(sum("d").as("d"))
    val w = Window.partitionBy("event_type").orderBy("t")
    // r16: the per-type peak rides a SECOND window function over the SAME
    // partitioning (whole-partition max needs no ordering, so no extra
    // sort and no extra exchange) instead of a separate agg + broadcast
    // join back — the boundary-table window subtree used to compute twice
    // (guide §2.4: two operations keyed the same way share one exchange)
    val cum = bounds.withColumn("cum", sum("d").over(w))
      .withColumn("peak",
        max("cum").over(Window.partitionBy("event_type")))
    cum.filter(col("cum") === col("peak"))
      .groupBy("event_type")
      .agg(max("peak").as("peak"), min("t").as("peak_ts"))
  }

  /** T40 EMA of the daily rate over a MATERIALIZED (event_type, day, n)
    * table — ClickHouse `exponentialMovingAverage` parity, halflife =
    * 1 day, 40-day truncation: weights are exact powers of two by bit
    * shift (no pow — the q168 integer decay-table discipline), the
    * final ratio one correctly-rounded double division. Runs on
    * types×days rows; d_max rides a types-sized broadcast. Like
    * fanoFromDaily/trendFromDaily this is also a CONSUMER of the X97
    * maintained aggregate state (no fact scan needed).
    */
  private[graft] def emaFromDaily(
      daily: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val dmax = daily.groupBy("event_type").agg(max("day").as("d_max"))
    daily.join(broadcast(dmax), "event_type")
      .withColumn("age", col("d_max") - col("day"))
      .filter(col("age") <= 40)
      // 41 terms × 2^40 × n_d needs n_d < 2^21 to keep the weighted
      // sum inside a long — loud guard (q209 pattern); a hotter day
      // means a coarser grain or a DECIMAL(38,0) widening
      .withColumn("guard", coalesce(
        assert_true(col("n") < lit(2097152L),
          lit("emaFromDaily: daily count >= 2^21 overflows the " +
            "shifted weight sum — rescale the grain or widen the fold"))
          .cast("long"), lit(0L)))
      .withColumn("w",
        expr("shiftleft(CAST(1 AS BIGINT), CAST(40 - age AS INT))") +
          col("guard"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days_used"),
        sum(col("n") * col("w")).as("num"),
        sum(col("w")).as("den"))
      // IEEE tail mirrored textually by the q234 oracle — in lockstep
      .withColumn("ema_rate", expr(
        "CAST(num AS DOUBLE) / CAST(den AS DOUBLE)"))
      .orderBy("event_type")
  }

  private[graft] def typeDayOhlc(
      ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val e = ev.withColumn("ts_us", Scalars.longDiv("ts", 1000L))
    val ord = format_string("%020d-%020d", col("ts_us"), col("event_id"))
    e.groupBy(col("event_type"), expr("ts_us DIV 86400000000").as("day"))
      .agg(
        min_by(col("value"), ord).as("open"),
        max("value").as("high"),
        min("value").as("low"),
        max_by(col("value"), ord).as("close"),
        count(lit(1)).as("n_events"),
        Scalars.moneySum(col("value")).as("vol"))
  }

  /** T34 corpus-sized stage of q205: the narrow (user_id, o, c)
    * projection — the (ts, event_id) total-order key and the exact-cents
    * value. Exposed separately because it is also the input of the
    * STREAMING twin (`ops/DeltaSumStream.fold` — order-aware per-user
    * state over micro-batches; `StreamingSpec` T34s pins streamed-vs-
    * batch equality under the ord-monotone replay contract).
    */
  private[graft] def deltaEvents(
      ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    ev.withColumn("ts_us", Scalars.longDiv("ts", 1000L))
      .select(col("user_id"),
        format_string("%020d-%020d", col("ts_us"), col("event_id"))
          .as("o"),
        Scalars.cents(col("value")).as("c"))

  /** T31 corpus-sized stage of q197: the (event_type, day) count agg.
    * Exposed separately because it is also the STREAMING fold of the
    * seasonality monitor (complete-mode agg over micro-batches;
    * `StreamingSpec` T31s pins streamed-vs-batch equality — the count
    * is associative, so the sink table equals the batch agg exactly).
    */
  private[graft] def typeDailyCounts(
      ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    ev.groupBy(col("event_type"), Scalars.longDiv("ts", NsPerDay).as("day"))
      .agg(count(lit(1)).as("n"))

  /** T32 post-agg stage of q199: the all-integer Fano arithmetic over a
    * MATERIALIZED (event_type, day, n) table. Exposed separately because
    * it is also a CONSUMER of the X97 maintained aggregate state
    * (`pipelines/AggPipeline.dailyCounts` feeds it without a fact scan;
    * `AggPipelineSpec` pins the parity). Runs on types×days rows, never
    * corpus-sized; see q199's scaladoc for the exactness window and the
    * division-form guard.
    */
  private[graft] def fanoFromDaily(
      daily: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sum("n").as("total"),
        sum(col("n") * col("n")).as("sq"))
      .select(col("event_type"), col("n_days"), col("total"),
        (expr("(1000000 * (n_days * sq - total * total)) " +
          "DIV (n_days * total)") +
          coalesce(assert_true(
            col("sq") < expr("9223372036854 DIV n_days"),
            lit("q199: n_days*sq >= 2^63/1e6 — the 1e6*var_num " +
              "product would overflow long; widen to DECIMAL(38,0)"))
            .cast("long"), lit(0L))).as("fano_ppm"))
      .withColumn("bursty",
        when(col("fano_ppm") >= 2000000L, 1).otherwise(0))
      .orderBy("event_type")

  /** T37 post-agg stage of q219: exact least-squares trend line over a
    * MATERIALIZED (event_type, day, n) table — ClickHouse
    * `simpleLinearRegression` parity in integer fixed point. x = day −
    * min(day) per type (keeps every moment small: x ≤ span), then the
    * closed form slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) and
    * intercept = (Σy·Σx² − Σx·Σxy) / det, both emitted as fixed point
    * (ppm / milli) with the SIGN-SPLIT truncate-toward-zero division
    * (q181 precedent — a declining trend makes the numerator negative,
    * where Spark DIV truncates and DuckDB `//` floors). det > 0 whenever
    * nd ≥ 2 (distinct days), so single-day types are filtered, not
    * divided by zero. Exactness window guarded per group in DIVISION
    * form (q199/q207 pattern): Σy < 2⁶³ / (10⁶·nd·(xmax+1)) covers the
    * slope moments and Σy < 2⁶³ / (10³·nd·(xmax+1)²) the intercept's —
    * beyond (~petabyte per-type volumes over year spans) widen to
    * DECIMAL(38,0). Exposed separately because it is also a CONSUMER of
    * the X97 maintained aggregate state (AggPipelineSpec pins parity).
    * Runs on types×days rows, never corpus-sized.
    */
  private[graft] def trendFromDaily(
      daily0: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val daily = daily0.localCheckpoint(true) // read twice: mins + moments
    val mins = daily.groupBy("event_type").agg(min("day").as("d0"))
    val xs = daily.join(broadcast(mins), "event_type")
      .select(col("event_type"), (col("day") - col("d0")).as("x"), col("n"))
    def signSplit(num: String, den: String): String =
      s"CASE WHEN ($num) >= 0 THEN ($num) DIV ($den) " +
        s"ELSE -((-($num)) DIV ($den)) END"
    val det = "(nd * sxx - sx * sx)"
    xs.groupBy("event_type")
      .agg(count(lit(1)).as("nd"), max("x").as("mx"),
        sum("x").as("sx"), sum("n").as("sy"),
        sum(col("x") * col("n")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .filter(col("nd") >= 2)
      .select(col("event_type"), col("nd").as("n_days"), col("sy").as("total"),
        (expr(signSplit("1000000 * (nd * sxy - sx * sy)", det)) +
          coalesce(assert_true(
            expr("sy < 9223372036854775807 DIV (1000000 * nd * (mx + 1))") &&
              expr("sy < 9223372036854775807 DIV " +
                "(1000 * nd * (mx + 1) * (mx + 1))"),
            lit("q219: per-type volume exceeds the integer trend " +
              "window; widen the moments to DECIMAL(38,0)")).cast("long"),
            lit(0L))).as("slope_ppm"),
        expr(signSplit("1000 * (sy * sxx - sx * sxy)", det))
          .as("icept_milli"))
      .withColumn("rising", when(col("slope_ppm") > 0, 1).otherwise(0))
      .orderBy("event_type")
  }

  /** T31 post-agg stage of q197: weekday profile + all-integer deviation
    * over the (event_type, day, n) table. Runs on types×days input,
    * never corpus-sized; deterministic given the fold's exact counts.
    */
  private[graft] def seasonalityFromDaily(
      daily0: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val daily = daily0.withColumn("wd", col("day") % 7)
    val prof = daily.groupBy("event_type", "wd")
      .agg(count(lit(1)).as("n_days"), sum("n").as("total"))
    daily.join(broadcast(prof), Seq("event_type", "wd"))
      .select(col("event_type"), col("day"), col("wd"), col("n"),
        expr("(1000000 * n * n_days) DIV total").as("dev_ppm"),
        when(col("n_days") >= 2 &&
          expr("n * n_days >= 2 * total"), 1).otherwise(0)
          .as("spike"))
      .orderBy("event_type", "day")
  }

  /** T22 corpus-sized stage of q162: the (user_id, day) event-count agg.
    * Exposed separately because it is also the STREAMING fold of the
    * spike monitor (complete-mode agg over micro-batches; `StreamingSpec`
    * T22s pins streamed-vs-batch equality) — the count is associative,
    * so the sink table equals the batch agg exactly.
    */
  private[graft] def dailyCounts(
      ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    ev.groupBy(col("user_id"), Scalars.longDiv("ts", NsPerDay).as("day"))
      .agg(count(lit(1)).as("n"))

  /** T24 post-agg stage of q168: decay-weighted recency rollup over the
    * (user_id, day, n) table. Exposed separately because [[dailyCounts]]
    * is also the STREAMING fold of the decay score (complete-mode agg
    * over micro-batches; `StreamingSpec` T24s pins streamed-vs-batch
    * equality — the count is associative, so the sink table equals the
    * batch agg exactly and this stage is deterministic on top of it).
    * Runs on users×active-days input, never corpus-sized.
    */
  private[graft] def decayFromDaily(
      daily: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val s = daily.sparkSession
    import s.implicits._
    val ref = daily.agg(max(col("day")).as("rd"))
    val decay = Iterator.iterate(1000000L)(v => v * 9L / 10L)
      .take(28).zipWithIndex
      .map { case (v, k) => (k.toLong, v) }.toSeq
      .toDF("age", "decay_ppm")
    daily.crossJoin(broadcast(ref))
      .withColumn("age", col("rd") - col("day"))
      .filter(col("age") < 28)
      .join(broadcast(decay), "age")
      .groupBy("user_id")
      .agg(sum(col("n")).as("n_recent"),
        count(lit(1)).as("days_active"),
        sum(col("n") * col("decay_ppm")).as("score_ppm"))
      .orderBy("user_id")
  }

  /** T22 post-agg stage of q162: strictly-preceding RANGE baseline +
    * all-integer spike test over the (user_id, day, n) table. Runs on
    * users×active-days input, never corpus-sized.
    */
  private[graft] def spikeFromDaily(
      daily: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("day"))
      .rangeBetween(-27, -1)
    daily.select(col("user_id"), col("day"), col("n"),
      coalesce(sum(col("n")).over(w), lit(0L)).as("base_n"),
      count(lit(1)).over(w).as("base_days"))
      .withColumn("spike",
        when(col("base_days") >= 7 &&
          col("n") * col("base_days") >= lit(3L) * col("base_n"), 1)
          .otherwise(0))
      .orderBy("user_id", "day")
  }

  /** T21 corpus-sized stage of q155: the (event_type, hour) cent-sum +
    * count agg. Exposed separately because it is also the STREAMING fold
    * of the gap-fill monitor (complete-mode agg over micro-batches;
    * `StreamingSpec` T21s pins streamed-vs-batch equality) — cs/n are
    * associative, so the sink table equals the batch agg exactly.
    */
  private[graft] def hourlyCents(
      ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    ev.groupBy(col("event_type"),
        Scalars.longDiv("ts", NsPerHour).as("h"))
      .agg(sum(Scalars.cents(col("value"))).as("cs"),
        count(lit(1)).as("n"))

  /** T21 post-agg stage of q155: spine + ignore-nulls neighbor windows +
    * exact-integer lerp over the (event_type, h, cs, n) table. Runs on
    * calendar-bounded input (types×hours), never corpus-sized.
    */
  private[graft] def fillFromHourly(
      hourlyAgg: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val hourly = hourlyAgg
      .withColumn("avg_c", expr("cs DIV n"))
      .select("event_type", "h", "avg_c")
      // consumed twice (spine bounds + the fill join): materialize the
      // tiny types×hours table once so events is scanned exactly once
      // (q154's eager-localCheckpoint precedent = the production write)
      .localCheckpoint(true)
    val spine = hourly.groupBy("event_type")
      .agg(min("h").as("h0"), max("h").as("h1"))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"))).as("h"))
    val w = Window.partitionBy("event_type").orderBy("h")
    val wp = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wn = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsH = when(col("avg_c").isNotNull, col("h"))
    spine.join(hourly, Seq("event_type", "h"), "left")
      .withColumn("ph", last(obsH, ignoreNulls = true).over(wp))
      .withColumn("pv", last(col("avg_c"), ignoreNulls = true).over(wp))
      .withColumn("nh", first(obsH, ignoreNulls = true).over(wn))
      .withColumn("nv", first(col("avg_c"), ignoreNulls = true).over(wn))
      .select(col("event_type"), col("h").as("epoch_hour"),
        when(col("avg_c").isNotNull, col("avg_c"))
          .otherwise(expr(
            "(pv * (nh - h) + nv * (h - ph)) DIV (nh - ph)"))
          .as("value_cents"),
        when(col("avg_c").isNull, 1).otherwise(0).cast("int")
          .as("interpolated"))
      .orderBy("event_type", "epoch_hour")
  }

  /** X34 audience overlap via KMV sketches — registered separately so the
    * udaf builds once. "How many users did BOTH X and Y": the question the
    * HLL tier (q108) cannot answer from its sketches (HLL unions, never
    * intersects). One pass builds a ≤K-hash sketch per event type
    * (partial+final, 4 KiB state — ops/KmvSketch); the pairwise stage runs
    * over the 5-row sketch table with codegen'd array builtins. The hash
    * family is the cross-engine md5 form, so the oracle replays the SKETCH
    * CONTENT exactly — including the k-th hash and the matched fraction —
    * and the estimator is fixed-operand IEEE arithmetic, floor-truncated
    * (§7.5: half-even round() diverges cross-engine; floor of the same
    * double never does). A sketch below K is exact (it IS the distinct
    * hash set): sf0.01 (150 users/type) exercises that path, sf0.1+
    * (1 500+/type) the saturated estimator, so the 100× sweep covers both.
    */
  private[graft] def audienceOverlap(
      s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    import graft.ops.{KmvAggregator, KmvSketch}
    val k = KmvSketch.K
    val kmv = udaf(new KmvAggregator(k))
    val sk = Tables.events(s, d)
      .select(col("event_type"),
        Scalars.tokenHash(col("user_id").cast("string")).as("h"))
      .groupBy("event_type")
      .agg(kmv(col("h")).as("sk"))
    val a = sk.select(col("event_type").as("a_type"), col("sk").as("a_sk"))
    val b = sk.select(col("event_type").as("b_type"), col("sk").as("b_sk"))
    a.join(b, col("a_type") < col("b_type"))
      .withColumn("lk",
        slice(array_sort(array_union(col("a_sk"), col("b_sk"))), 1, k))
      .withColumn("l_n", size(col("lk")))
      .withColumn("kth_hash", element_at(col("lk"), col("l_n")))
      .withColumn("rho_k",
        size(array_intersect(array_intersect(col("lk"), col("a_sk")),
          col("b_sk"))))
      .withColumn("est_inter",
        when(col("l_n") < k, col("rho_k").cast("long"))
          .otherwise(floor(
            (col("rho_k").cast("double") / col("l_n").cast("double")) *
              ((col("l_n") - 1).cast("double") * lit(KmvSketch.M) /
                col("kth_hash").cast("double")))))
      .select(col("a_type"), col("b_type"), col("rho_k"),
        col("kth_hash"), col("est_inter"))
      .orderBy("a_type", "b_type")
  }
}
