package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Materialize, Scalars}

/** Advanced OLAP tier — grouping sets, pivot, statistical and positional
  * aggregates, the full window-function family, and subquery forms. These
  * extend SURVEY.md §2.4/§2.5 beyond the reference's delegated surface to
  * the analytics ClickHouse users actually run on rankings-style fact
  * tables (share-of-segment, rank percentiles, movement windows).
  *
  * Scale notes:
  *  - Pivot with an explicit value list (q61) is a single partial+final
  *    hash agg — never use auto-discovery pivot at 100 TB (it runs an extra
  *    distinct job over the fact table to find values).
  *  - Statistical aggs (q62) are single-pass partial+final (Spark's
  *    central-moment aggregates merge exactly); no extra shuffle vs sum().
  *  - Exact percentiles (q63) buffer per-group values — fine for bounded
  *    group counts; at unbounded cardinality switch to approx_percentile
  *    (same call shape, sketch-mergeable). Declared exact so DuckDB's
  *    quantile_cont interpolation matches bit-for-bit after rounding.
  *  - Window queries (q65/q66/q69) partition by a key — no global-order
  *    single-partition window on the fact-table path (§7.5 #7).
  *  - Subqueries (q67/q68) rewrite to joins in Catalyst: IN → left semi,
  *    scalar agg → cross of a 1-row broadcast. The declared SQL forms prove
  *    the optimizer path, not a new executor.
  */
object QueriesOlap {
  import Tables._

  val all: Seq[Q] = Seq(

    // A6c explicit GROUPING SETS — the general form of q09 rollup / q56
    // cube: per-flag, per-status, and grand-total groups (the oracle's
    // GROUPING SETS; here one aggregate per set over a shared base).
    Q("q60_grouping_sets",
      (s, d) => {
        // exact decimal money sum (Scalars.moneySum rationale): the ()
        // grand total over the whole fact table is exactly the shape whose
        // double-sum accumulation order flipped a cent at sf1.
        // Pre-aggregate by the FULL (rf, ls) key first (guide §2.1/§2.3),
        // so the fact stream is aggregated once and each set aggregates a
        // 6-row table: GROUPING SETS over lineitem would Expand the fact
        // stream 3× before the partial agg. Exact re-association: counts
        // add, DECIMAL(18,2) partial sums add exactly (widened to
        // DECIMAL(38,2) before the final double cast), so the rendered
        // values are bit-identical (oracle-pinned).
        // The grand total is a GLOBAL aggregate, so an empty lineitem
        // still yields ('ALL', 'ALL', 0, NULL) as the oracle's () set does;
        // Spark's GROUPING SETS emits no () row on empty input. The three
        // branches reuse the `base` exchange, so lineitem is scanned once.
        s.sql(s"""WITH base AS (
                |  SELECT l_returnflag, l_linestatus, count(1) AS cnt,
                |         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sp
                |  FROM ${sqlFrom(d, "lineitem")}
                |  GROUP BY l_returnflag, l_linestatus)
                |SELECT coalesce(l_returnflag, 'ALL') AS rf, 'ALL' AS ls,
                |       sum(cnt) AS cnt, CAST(sum(sp) AS DOUBLE) AS sum_price
                |FROM base GROUP BY l_returnflag
                |UNION ALL
                |SELECT 'ALL' AS rf, coalesce(l_linestatus, 'ALL') AS ls,
                |       sum(cnt) AS cnt, CAST(sum(sp) AS DOUBLE) AS sum_price
                |FROM base GROUP BY l_linestatus
                |UNION ALL
                |SELECT 'ALL' AS rf, 'ALL' AS ls,
                |       coalesce(sum(cnt), 0) AS cnt,
                |       CAST(sum(sp) AS DOUBLE) AS sum_price
                |FROM base
                |ORDER BY rf, ls""".stripMargin)
      },
      Some(s"""SELECT coalesce(l_returnflag, 'ALL') AS rf,
             |       coalesce(l_linestatus, 'ALL') AS ls,
             |       CAST(count(*) AS BIGINT) AS cnt,
             |       ${Scalars.moneySumSql("l_extendedprice")} AS sum_price
             |FROM lineitem
             |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
             |ORDER BY rf, ls""".stripMargin)),

    // A8 pivot (long→wide reshape) with an explicit value list: status ×
    // return-flag quantity matrix. One partial+final agg, no discovery job.
    Q("q61_pivot",
      (s, d) => lineitem(s, d)
        .groupBy("l_linestatus")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(round(sum("l_quantity"), 2))
        .orderBy("l_linestatus"),
      Some("""SELECT l_linestatus,
             |  round(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 2) AS "A",
             |  round(sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 2) AS "N",
             |  round(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 2) AS "R"
             |FROM lineitem GROUP BY l_linestatus
             |ORDER BY l_linestatus""".stripMargin)),

    // A9 statistical aggregates — stddev / correlation / covariance per
    // group, single-pass central-moment form (volume-vs-cpc analytics on
    // the reference's measure columns). Rounding absorbs the last-ulp
    // difference between the engines' merge orders (§7.5 #1).
    Q("q62_stats_agg",
      (s, d) => lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          round(stddev_samp(col("l_quantity")), 2).as("sd_qty"),
          round(stddev_samp(col("l_extendedprice")), 2).as("sd_price"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 6)
            .as("corr_qty_price"),
          round(covar_samp(col("l_quantity"), col("l_discount")), 6)
            .as("cov_qty_disc"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |  round(stddev_samp(l_quantity), 2) AS sd_qty,
             |  round(stddev_samp(l_extendedprice), 2) AS sd_price,
             |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
             |  round(covar_samp(l_quantity, l_discount), 6) AS cov_qty_disc
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // A10 exact percentiles (quartiles of price per return flag),
    // DISTRIBUTED (round 3): Spark's own percentile() is a buffer-all-
    // values TypedImperative aggregate — with a 3-value group key every
    // l_extendedprice in the table funnels into 3 final reducers, tens of
    // GB per reducer at 100 TB, and it alone was 11% of the r2 bench
    // (VERDICT r02 #3). ops/GlobalRank.exactPercentiles replaces it with
    // range-partitioned per-group ranking + target-rank selection +
    // the same linear interpolation — every stage parallel. Linear-
    // interpolation definition is shared with DuckDB quantile_cont(), so
    // they agree to the ulp on sorted input.
    Q("q63_percentiles",
      (s, d) => graft.ops.GlobalRank.exactPercentiles(
        lineitem(s, d), col("l_returnflag"), col("l_extendedprice"),
        Seq(0.25, 0.5, 0.75))
        .groupBy(col("g").as("l_returnflag"))
        .agg(
          round(max(when(col("q") === 0.25, col("pct"))), 2).as("p25"),
          round(max(when(col("q") === 0.5, col("pct"))), 2).as("p50"),
          round(max(when(col("q") === 0.75, col("pct"))), 2).as("p75"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |  round(quantile_cont(l_extendedprice, 0.25), 2) AS p25,
             |  round(quantile_cont(l_extendedprice, 0.5), 2) AS p50,
             |  round(quantile_cont(l_extendedprice, 0.75), 2) AS p75
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // A10b approximate percentiles — q63's unbounded-cardinality twin
    // (mergeable KLL-style sketch, like q08b's HLL for q08). No oracle:
    // approximate by construction.
    Q("q63b_approx_percentiles",
      (s, d) => lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("p50_apx"),
          expr("approx_percentile(l_extendedprice, 0.99, 1000)").as("p99_apx"))
        .orderBy("l_returnflag"),
      None),

    // A19 exact WEIGHTED quantiles — ClickHouse quantileExactWeighted
    // parity, the reference-engine aggregate q63/q63b don't cover: each
    // value carries a weight and the level cuts the WEIGHTED cumulative
    // distribution. The curation use is token-weighted length percentiles:
    // "the doc length under which half the corpus TOKENS sit" (per-doc
    // percentiles over-represent short docs; budget math q86/q154 keys on
    // tokens, so its cut points must too). Discrete type-1 semantics,
    // all-integer threshold (cumW·1e6 ≥ q_ppm·W in DECIMAL — exact at any
    // scale, no float level math): both engines agree bit-identically,
    // tie-order invariant (see GlobalRank.weightedQuantiles scaladoc).
    // Scale: ONE range exchange of narrow (source, len, w) triples +
    // parallel prefix machinery — never a per-group single reducer; the
    // weight column is computed in a projection before the exchange.
    Q("q202_weighted_percentiles",
      (s, d) => {
        val docs = documents(s, d).select(col("source"), col("n_chars"),
          size(split(col("text"), " ")).cast("long").as("w"))
        graft.ops.GlobalRank.weightedQuantiles(
          docs, col("source"), col("n_chars"), col("w"),
          Seq(500000, 900000, 990000))
          .select(col("g").as("source"), col("q_ppm"),
            col("wq").cast("long").as("wq"))
          .orderBy("source", "q_ppm")
      },
      Some("""WITH t AS (SELECT source, n_chars AS v,
             |  CAST(len(str_split(text, ' ')) AS BIGINT) AS w
             |  FROM documents),
             |tot AS (SELECT source, sum(w) AS wt FROM t GROUP BY 1),
             |c AS (SELECT source, v, sum(w) OVER (
             |  PARTITION BY source ORDER BY v) AS cw FROM t),
             |qs AS (SELECT unnest([500000, 900000, 990000]) AS q_ppm)
             |SELECT c.source, CAST(q.q_ppm AS INT) AS q_ppm,
             |  CAST(min(c.v) AS BIGINT) AS wq
             |FROM c JOIN tot USING (source) CROSS JOIN qs q
             |WHERE c.cw * 1000000 >= q.q_ppm * tot.wt
             |GROUP BY 1, 2 ORDER BY source, q_ppm""".stripMargin)),

    // A11 ordered string aggregation (group members as a sorted CSV list —
    // the reporting form of collect_list). Sorted before joining so the
    // aggregation order, which neither engine guarantees, cannot leak in.
    Q("q64_string_agg",
      (s, d) => nation(s, d)
        .join(broadcast(region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(array_join(sort_array(collect_list(col("n_name"))), ",")
          .as("nations"),
          count(lit(1)).as("n"))
        .orderBy("r_name"),
      Some("""SELECT r_name,
             |  array_to_string(list_sort(list(n_name)), ',') AS nations,
             |  CAST(count(*) AS BIGINT) AS n
             |FROM nation JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name ORDER BY r_name""".stripMargin)),

    // W5 distribution window family: quartile bucket (ntile), percent_rank,
    // cume_dist over price within each priority class. The per-partition
    // order carries the unique o_orderkey tiebreak so every rank function
    // is deterministic (§7.5 #5). percent_rank values like k/(n-1) are
    // non-terminating binary fractions, so rounding goes through the
    // floor-form Scalars.roundAt on both sides (§7.5 #1).
    Q("q65_window_family",
      (s, d) => {
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
        orders(s, d)
          .filter(col("o_totalprice") > 400000.0)
          .select(col("o_orderpriority"), col("o_orderkey"),
            ntile(4).over(w).as("quartile"),
            Scalars.roundAt(percent_rank().over(w), 6).as("pct_rank"),
            Scalars.roundAt(cume_dist().over(w), 6).as("cume"))
          .orderBy("o_orderpriority", "o_orderkey")
      },
      Some(s"""SELECT o_orderpriority, o_orderkey,
              |  CAST(ntile(4) OVER w AS INT) AS quartile,
              |  ${Scalars.roundAtSql("percent_rank() OVER w", 6)} AS pct_rank,
              |  ${Scalars.roundAtSql("cume_dist() OVER w", 6)} AS cume
              |FROM orders
              |WHERE o_totalprice > 400000.0
              |WINDOW w AS (PARTITION BY o_orderpriority
              |             ORDER BY o_totalprice ASC, o_orderkey ASC)
              |ORDER BY o_orderpriority, o_orderkey""".stripMargin)),

    // W6 positional window values: per priority class, the highest-,
    // second-highest-, and lowest-priced order keys in one full-frame pass.
    Q("q66_first_last",
      (s, d) => {
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        val full = w.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)
        orders(s, d)
          .select(col("o_orderpriority"),
            first(col("o_orderkey")).over(full).as("top_key"),
            nth_value(col("o_orderkey"), 2).over(full).as("second_key"),
            last(col("o_orderkey")).over(full).as("bottom_key"),
            row_number().over(w).as("rn"))
          .filter(col("rn") === 1)
          .select("o_orderpriority", "top_key", "second_key", "bottom_key")
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, top_key, second_key, bottom_key
             |FROM (SELECT o_orderpriority,
             |  first_value(o_orderkey) OVER wf AS top_key,
             |  nth_value(o_orderkey, 2) OVER wf AS second_key,
             |  last_value(o_orderkey) OVER wf AS bottom_key,
             |  row_number() OVER w AS rn
             |FROM orders
             |WINDOW w AS (PARTITION BY o_orderpriority
             |             ORDER BY o_totalprice DESC, o_orderkey ASC),
             |       wf AS (PARTITION BY o_orderpriority
             |              ORDER BY o_totalprice DESC, o_orderkey ASC
             |              ROWS BETWEEN UNBOUNDED PRECEDING
             |                AND UNBOUNDED FOLLOWING))
             |WHERE rn = 1 ORDER BY o_orderpriority""".stripMargin)),

    // Q1 IN-subquery (uncorrelated) — Catalyst rewrites to a left-semi
    // join; the segment dimension side auto-broadcasts below the threshold.
    Q("q67_in_subquery",
      (s, d) => {
        s.sql(s"""SELECT o_orderkey, o_totalprice
                |FROM ${sqlFrom(d, "orders")}
                |WHERE o_custkey IN (SELECT c_custkey
                |                    FROM ${sqlFrom(d, "customer")}
                |                    WHERE c_mktsegment = 'BUILDING')
                |  AND o_totalprice > 300000.0
                |ORDER BY o_orderkey""".stripMargin)
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |WHERE o_custkey IN (SELECT c_custkey FROM customer
             |                    WHERE c_mktsegment = 'BUILDING')
             |  AND o_totalprice > 300000.0
             |ORDER BY o_orderkey""".stripMargin)),

    // Q2 scalar subquery — price as a ratio of the global mean; Catalyst
    // plans the 1-row aggregate as a broadcast, not a per-row re-scan.
    Q("q68_scalar_subquery",
      (s, d) => {
        // the scalar mean is decimal-exact (sum order can't move it) and
        // the per-row 4dp rounding is floor-form (Scalars.roundAt
        // rationale) — both were latent cross-engine flake sources at sf1
        val orders = sqlFrom(d, "orders")
        s.sql(s"""SELECT o_orderkey,
                |  floor(o_totalprice /
                |    (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                |                 AS DOUBLE) / count(*) FROM $orders)
                |    * 10000 + 0.5) / 10000 AS price_ratio
                |FROM $orders WHERE o_totalprice > 450000.0
                |ORDER BY o_orderkey""".stripMargin)
      },
      Some("""SELECT o_orderkey,
             |  floor(o_totalprice /
             |    (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
             |                 AS DOUBLE) / count(*) FROM orders)
             |    * 10000 + 0.5) / 10000 AS price_ratio
             |FROM orders WHERE o_totalprice > 450000.0
             |ORDER BY o_orderkey""".stripMargin)),

    // Q3 correlated EXISTS / NOT EXISTS — the decorrelation shape real
    // SQL users hit weekly (q67 proves uncorrelated IN, q68 the scalar
    // agg): customers in a segment who placed at least one high-value
    // order (correlated EXISTS) and whose orders contain NO returned
    // item (correlated NOT EXISTS through a two-table subquery).
    // Catalyst's RewritePredicateSubquery decorrelates both — EXISTS →
    // left-semi join on the correlation key, NOT EXISTS → left-anti —
    // so at 100 TB this is two shuffled/broadcast hash joins over the
    // fact tables, never a per-customer re-execution of the subquery
    // (the nested-loop plan a naive engine runs). PlanSpec pins the
    // decorrelated shape: semi + anti present, no BNLJ/cartesian.
    Q("q171_exists_correlated",
      (s, d) => {
        val orders = sqlFrom(d, "orders")
        s.sql(s"""SELECT c_custkey, c_name FROM ${sqlFrom(d, "customer")} c
                |WHERE c_mktsegment = 'AUTOMOBILE'
                |  AND EXISTS (SELECT 1 FROM $orders o
                |              WHERE o.o_custkey = c.c_custkey
                |                AND o.o_totalprice > 200000.0)
                |  AND NOT EXISTS (
                |    SELECT 1 FROM $orders o2
                |    JOIN ${sqlFrom(d, "lineitem")} l
                |      ON l.l_orderkey = o2.o_orderkey
                |    WHERE o2.o_custkey = c.c_custkey
                |      AND l.l_returnflag = 'R')
                |ORDER BY c_custkey""".stripMargin)
      },
      Some("""SELECT c_custkey, c_name FROM customer c
             |WHERE c_mktsegment = 'AUTOMOBILE'
             |  AND EXISTS (SELECT 1 FROM orders o
             |              WHERE o.o_custkey = c.c_custkey
             |                AND o.o_totalprice > 200000.0)
             |  AND NOT EXISTS (
             |    SELECT 1 FROM orders o2
             |    JOIN lineitem l ON l.l_orderkey = o2.o_orderkey
             |    WHERE o2.o_custkey = c.c_custkey
             |      AND l.l_returnflag = 'R')
             |ORDER BY c_custkey""".stripMargin)),

    // W7 sliding-frame moving average (3-order trailing mean per customer —
    // the rank-movement smoothing a rankings time-series needs). A 3-value
    // mean is a row-level derived double → floor-form rounding (§7.5 #1).
    Q("q69_moving_avg",
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
          .rowsBetween(-2, Window.currentRow)
        orders(s, d)
          .filter(col("o_custkey") < 200L)
          .select(col("o_custkey"), col("o_orderkey"),
            Scalars.round2(avg(col("o_totalprice")).over(w)).as("mavg3"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some(s"""SELECT o_custkey, o_orderkey,
              |  ${Scalars.round2Sql(
                   """avg(o_totalprice) OVER (
                     |    PARTITION BY o_custkey
                     |    ORDER BY o_orderdate ASC, o_orderkey ASC
                     |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""".stripMargin)}
              |    AS mavg3
              |FROM orders WHERE o_custkey < 200
              |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // A13 robust statistics — per-language median + MAD (median absolute
    // deviation) outlier gate over document lengths, the outlier-immune
    // quality filter (mean/stddev move with the very outliers they're
    // meant to catch; median/MAD don't). EXACT medians with NO
    // buffer-all Percentile aggregate and NO corpus-sized window: both
    // medians come from the VALUE HISTOGRAM — groupBy (lang, value)
    // first, then cumulative counts over the distinct values only. The
    // shuffle and window state are O(distinct lengths), not O(docs) —
    // the 100 TB-safe exact-median path for bounded-domain columns
    // (document lengths, ranks, scores all qualify). Even-count groups
    // take the mean of the two middle values, matching DuckDB median().
    Q("q107_mad_outliers",
      (s, d) => {
        val docs = documents(s, d).select(col("lang"), col("n_chars"))
        // exact per-group median from a (group, value, count) histogram
        def histMedian(df: org.apache.spark.sql.DataFrame, v: String,
            out: String): org.apache.spark.sql.DataFrame = {
          val hist = df.groupBy(col("lang"), col(v))
            .agg(count(lit(1)).as("c"))
          val wc = Window.partitionBy("lang").orderBy(col(v))
          val cum = hist
            .withColumn("cum", sum("c").over(wc))
            .withColumn("n", sum("c").over(Window.partitionBy("lang")))
          // 1-based middle positions: (n+1) DIV 2 and (n+2) DIV 2 —
          // integral division (Column./ promotes to double and would
          // shift the even-count lower-middle by +0.5)
          val lo = cum.filter(col("cum") >= expr("(n + 1) DIV 2"))
            .groupBy("lang").agg(min(col(v)).as("v1"))
          val hi = cum.filter(col("cum") >= expr("(n + 2) DIV 2"))
            .groupBy("lang").agg(min(col(v)).as("v2"))
          lo.join(hi, "lang")
            .select(col("lang"),
              ((col("v1") + col("v2")) / 2.0).as(out))
        }
        val med = histMedian(docs, "n_chars", "med_chars")
        val dev = docs.join(broadcast(med), "lang")
          .select(col("lang"),
            abs(col("n_chars") - col("med_chars")).as("dev"))
        val mad = histMedian(dev, "dev", "mad_chars")
        docs.join(broadcast(med), "lang").join(broadcast(mad), "lang")
          .groupBy("lang")
          .agg(first("med_chars").as("med_chars"),
            first("mad_chars").as("mad_chars"),
            count(lit(1)).as("n_docs"),
            sum(when(abs(col("n_chars") - col("med_chars")) >
              col("mad_chars") * 3, 1L).otherwise(0L)).as("n_outliers"))
          .orderBy("lang")
      },
      Some("""WITH med AS (
             |  SELECT lang, median(n_chars) AS med_chars
             |  FROM documents GROUP BY 1),
             |dev AS (
             |  SELECT d.lang, abs(d.n_chars - m.med_chars) AS dev
             |  FROM documents d JOIN med m USING (lang)),
             |mad AS (
             |  SELECT lang, median(dev) AS mad_chars FROM dev GROUP BY 1)
             |SELECT d.lang, m.med_chars, a.mad_chars,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(CASE WHEN abs(d.n_chars - m.med_chars) >
             |    3 * a.mad_chars THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_outliers
             |FROM documents d
             |JOIN med m ON d.lang = m.lang
             |JOIN mad a ON d.lang = a.lang
             |GROUP BY 1, 2, 3 ORDER BY d.lang""".stripMargin)),

    // X38 re-aggregable quantile sketch (ops/QuantileSample) — completes
    // the sketch tier: HLL (q108) unions cardinality, KMV (q122)
    // intersects it, CMS (q106) answers frequency; this answers
    // RANK/QUANTILE from bounded mergeable state. Design choice over
    // KLL/t-digest (both merge-ORDER-dependent → nondeterministic on a
    // cluster, no oracle): a bottom-K-by-hash row sample — membership is
    // a pure function of the data, reduce/merge are associative set ops,
    // so any partitioning, a foreachBatch fold, and a DuckDB
    // `row_number() OVER (ORDER BY hash) <= K` replay all build the
    // IDENTICAL sketch, and the estimates are exact order statistics of
    // the sample (no floating-point estimator anywhere — index arithmetic
    // is integer DIV both engines). Like q63b it prices quantiles at
    // O(K) state where q63's exact rank-select pays a corpus shuffle;
    // unlike q63b (Spark-internal sketch, no-oracle) the sketch content
    // is cross-engine replayable — full value oracle at every sf.
    // Scale: one partial+final agg exchanging ≤K-pair arrays; the
    // quantile extraction runs on the 5-row sketch table with codegen'd
    // array builtins.
    Q("q126_quantile_sketch",
      (s, d) => {
        import graft.ops.{QuantileSample, QuantileSampleAggregator}
        val k = QuantileSample.K
        val qs = udaf(new QuantileSampleAggregator(k))
        events(s, d)
          .select(col("event_type"),
            Scalars.tokenHash(col("event_id").cast("string")).as("h"),
            col("value"))
          .groupBy("event_type")
          .agg(qs(col("h"), col("value")).as("sk"))
          .select(col("event_type"),
            size(col("sk.v")).cast("long").as("n_s"),
            array_sort(col("sk.v")).as("vals"))
          .select(col("event_type"), col("n_s"),
            expr("element_at(vals, CAST((n_s - 1) DIV 2 + 1 AS INT))")
              .as("p50"),
            expr("element_at(vals, " +
              "CAST((19 * (n_s - 1)) DIV 20 + 1 AS INT))").as("p95"),
            expr("element_at(vals, " +
              "CAST((99 * (n_s - 1)) DIV 100 + 1 AS INT))").as("p99"))
          .orderBy("event_type")
      },
      Some("""WITH h0 AS (SELECT event_type,
             |    ('0x' || substr(md5(CAST(event_id AS VARCHAR)),
             |      1, 15))::BIGINT AS h, value
             |  FROM events),
             |hd AS (SELECT event_type, h, min(value) AS value
             |       FROM h0 GROUP BY 1, 2),
             |r AS (SELECT event_type, h, value, row_number() OVER (
             |        PARTITION BY event_type ORDER BY h) AS rn
             |      FROM hd),
             |s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_s,
             |        list(value ORDER BY value) AS vals
             |      FROM r WHERE rn <= 256 GROUP BY 1)
             |SELECT event_type, n_s,
             |  vals[CAST((n_s - 1) // 2 + 1 AS INTEGER)] AS p50,
             |  vals[CAST((19 * (n_s - 1)) // 20 + 1 AS INTEGER)] AS p95,
             |  vals[CAST((99 * (n_s - 1)) // 100 + 1 AS INTEGER)] AS p99
             |FROM s ORDER BY event_type""".stripMargin)),

    // A14 unpivot / melt — the inverse reshaping of q61's pivot: the
    // wide per-flag measure table melted to long (flag, measure, amount)
    // form, the shape BI layers and chart APIs ingest. Uses Spark's
    // native Dataset.unpivot (Catalyst Expand — one pass over the ALREADY
    // AGGREGATED wide table, N_measures output rows per input row, no
    // join, no shuffle beyond the agg's own). Measures share the double
    // type (unpivot requires a common value type); price sums go through
    // Scalars.moneySum first (exact decimal cents), so the doubles being
    // melted are already order-independent. Scale: the corpus-sized work
    // is the one partial+final agg to flags-many groups; Expand runs on
    // that tiny table. Output total order (flag, measure) is unique.
    Q("q156_unpivot_measures",
      (s, d) => {
        val wide = lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(sum(col("l_quantity")).as("sum_qty"),
            Scalars.moneySum(col("l_extendedprice")).as("sum_base"),
            Scalars.moneySum(Scalars.round2(
              col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
              .as("sum_disc"))
        wide.unpivot(Array(col("l_returnflag")),
            Array(col("sum_qty"), col("sum_base"), col("sum_disc")),
            "measure", "amount")
          .orderBy("l_returnflag", "measure")
      },
      Some(s"""WITH a AS (
             |  SELECT l_returnflag,
             |    CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
             |    ${Scalars.moneySumSql("l_extendedprice")} AS sum_base,
             |    ${Scalars.moneySumSql(Scalars.round2Sql(
                    "l_extendedprice * (1.0 - l_discount)"))} AS sum_disc
             |  FROM lineitem GROUP BY 1)
             |SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS amount
             |FROM a
             |UNION ALL SELECT l_returnflag, 'sum_base' AS measure,
             |  sum_base AS amount FROM a
             |UNION ALL SELECT l_returnflag, 'sum_disc' AS measure,
             |  sum_disc AS amount FROM a
             |ORDER BY l_returnflag, measure""".stripMargin)),

    // W8 value-bounded RANGE window frame — the rolling "last 7 days"
    // aggregate over an IRREGULAR series, where a ROWS frame (q69's
    // form) is semantically wrong: k rows back can be arbitrarily old
    // when days are missing; RANGE bounds the frame by the ORDER-BY
    // VALUE, so the trailing total covers exactly days [d-6, d]
    // whatever the gap structure. Per user: daily event count + exact
    // cent sum (round2 floor-form), then inclusive trailing-7-day
    // totals via RANGE BETWEEN 6 PRECEDING AND CURRENT ROW on the
    // integer epoch-day — all integer arithmetic end to end.
    // Scale shape: the corpus-sized work is one partial+final agg to
    // (user, day); the RANGE window runs user-partitioned over that
    // daily table — per-user state bounded by active days (the q102
    // user-partitioned precedent), never corpus-sized.
    Q("q159_range_frame",
      (s, d) => {
        val daily = events(s, d)
          .groupBy(col("user_id"),
            Scalars.longDiv("ts", 86400000000000L).as("day"))
          .agg(count(lit(1)).as("n"),
            sum(Scalars.cents(col("value"))).as("cents"))
        val w = Window.partitionBy("user_id").orderBy(col("day"))
          .rangeBetween(-6, Window.currentRow)
        daily.select(col("user_id"), col("day"),
          sum(col("n")).over(w).as("n_7d"),
          sum(col("cents")).over(w).as("cents_7d"))
          .orderBy("user_id", "day")
      },
      Some("""WITH daily AS (
             |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day,
             |    CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
             |      AS BIGINT) AS cents
             |  FROM events GROUP BY 1, 2)
             |SELECT user_id, day,
             |  CAST(sum(n) OVER w AS BIGINT) AS n_7d,
             |  CAST(sum(cents) OVER w AS BIGINT) AS cents_7d
             |FROM daily
             |WINDOW w AS (PARTITION BY user_id ORDER BY day
             |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
             |ORDER BY user_id, day""".stripMargin)),

    // A15 exact Spearman rank agreement — per source, the rank
    // correlation between two per-doc quality signals (the q138
    // composite quality ppm vs lexical diversity = distinct-word
    // ratio ppm). This is the statistical gate run before trusting a
    // CHEAP quality proxy corpus-wide: if its ranking agrees with the
    // expensive signal (rho near 1e6 ppm), filter on the cheap one.
    // Exactness contract: ranks are a permutation (tiebreak by doc_id,
    // deterministic both engines), so Spearman's difference form
    // rho = 1 - 6*sum(d^2)/(n(n^2-1)) is ALL-INTEGER — emitted as ppm
    // fixed point, no accumulation-order-dependent double anywhere.
    // Scale shape: per-source ranks do NOT come from a per-source
    // window (one source can be 10 TB — a single-reducer partition at
    // 100 TB); they come from ops/GlobalRank.prefixSum — the q63
    // range-partition + prefix-count machinery — over the order
    // (sig, doc_id). Two ranked passes, one doc_id equi-join, one
    // partial+final agg to sources-many rows; sum(d^2) accumulates in
    // DECIMAL(38,0) (n^3-scale — overflows BIGINT past n~1e6
    // rows/source).
    Q("q160_spearman_agreement",
      (s, d) => {
        // size-adaptive fanOut: ONE regexp_replace pass per row is
        // moderate work — wins at sf1 (floor 1.67 -> 1.47), loses at
        // sf0.1 (0.65 -> 1.09, r17 closing run 1)
        val sigs = fanOutOver(documents(s, d)).select(col("doc_id"), col("source"),
          floor(lit(1e6) *
            (least(size(split(col("text"), " ")).cast("double") / 100.0,
              lit(1.0)) * 0.5 +
             length(regexp_replace(col("text"), "[^a-z]", ""))
               .cast("double") / length(col("text")) * 0.5))
            .cast("long").as("a_fp"),
          expr("(1000000L * size(array_distinct(split(text, ' ')))) " +
            "DIV size(split(text, ' '))").as("b_fp"))
          // cut: the two rank passes share no exchange below this table,
          // so the lazy plan scans the corpus and runs the regexes twice
          .transform(Materialize.cut)
        def ranked(sig: String, rk: String) =
          graft.ops.GlobalRank.prefixSum(sigs.select("source", "doc_id", sig),
              Seq("source"), Seq(col(sig), col("doc_id")), lit(1L))._1
            .select(col("source"), col("doc_id"), col("before").as(rk))
        ranked("a_fp", "ra").join(ranked("b_fp", "rb"),
            Seq("source", "doc_id"))
          .groupBy("source")
          .agg(count(lit(1)).as("n"),
            sum(((col("ra") - col("rb")) * (col("ra") - col("rb")))
              .cast("decimal(38,0)")).as("d2"))
          .select(col("source"), col("n"),
            col("d2").cast("long").as("sum_d2"),
            when(col("n") > 1,
              expr("CAST(1000000 - (6000000 * d2) DIV " +
                "(CAST(n AS DECIMAL(38,0)) * n * n - n) AS BIGINT)"))
              .otherwise(lit(1000000L)).as("rho_ppm"))
          .orderBy("source")
      },
      Some {
        val aFp = "CAST(floor(1e6 * (" +
          "least(CAST(len(str_split(text, ' ')) AS DOUBLE) / 100.0, 1.0)" +
          " * 0.5 + (CAST(length(regexp_replace(text, '[^a-z]', '', 'g'))" +
          " AS DOUBLE) / length(text)) * 0.5)) AS BIGINT)"
        s"""WITH sigs AS (
           |  SELECT doc_id, source, $aFp AS a_fp,
           |    (1000000 * len(list_distinct(str_split(text, ' '))))
           |      // len(str_split(text, ' ')) AS b_fp
           |  FROM documents),
           |ra AS (SELECT source, doc_id, CAST(row_number() OVER (
           |    PARTITION BY source ORDER BY a_fp, doc_id) - 1 AS BIGINT)
           |    AS ra FROM sigs),
           |rb AS (SELECT source, doc_id, CAST(row_number() OVER (
           |    PARTITION BY source ORDER BY b_fp, doc_id) - 1 AS BIGINT)
           |    AS rb FROM sigs)
           |SELECT ra.source, CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum((ra - rb) * (ra - rb)) AS BIGINT) AS sum_d2,
           |  CASE WHEN count(*) > 1 THEN CAST(1000000 -
           |    (6000000 * sum((ra - rb) * (ra - rb))) //
           |    (count(*) * count(*) * count(*) - count(*)) AS BIGINT)
           |  ELSE 1000000 END AS rho_ppm
           |FROM ra JOIN rb ON ra.source = rb.source
           |  AND ra.doc_id = rb.doc_id
           |GROUP BY ra.source ORDER BY ra.source""".stripMargin
      }),

    // A16 one-pass Poisson-bootstrap confidence interval — error bars
    // on a corpus statistic (per-source mean token count) WITHOUT
    // resampling passes: replicate b's weight for doc i is
    // Poisson(1)-distributed, derived DETERMINISTICALLY from the
    // cross-engine md5 token hash of (b, doc_id) via integer CDF
    // thresholds at 2^20 (the Poisson-bootstrap identity: multinomial
    // resampling ≈ independent Poisson(1) weights; Chamandy et al.
    // 2012 "Estimating uncertainty for massive data streams" — the
    // one-pass bootstrap Google built for exactly this shape). All 32
    // replicate means are integer fixed-point hundredths
    // ((100·Σw·x) DIV Σw, Σw floored at 1 against the ~p^n empty
    // replicate); the CI is order statistics over the SORTED 32-vector
    // (elements 2 and 31 ≈ p05/p95). No rand() anywhere — same CI
    // every run, any partitioning, any engine.
    // Scale shape: ONE corpus pass, 64 partial+final agg columns
    // (32×[Σwx, Σw]) — map-side combinable, sources×65 cells of final
    // state; the per-doc cost is 32 md5 calls, the honest price of 32
    // resamples in one pass. The sort/CI runs on 32-element arrays of
    // the sources-many aggregate — never corpus-sized.
    Q("q166_bootstrap_ci",
      (s, d) => {
        val B = 32
        val thresholds = Seq(385749L, 771499L, 964373L, 1028665L,
          1044738L, 1047952L) // floor(2^20 * CDF_Poisson(1)(k)), k=0..5
        def w(b: Int) = {
          val h = pmod(Scalars.tokenHash(
            concat(lit(s"bs$b-"), col("doc_id").cast("string"))),
            lit(1L << 20))
          thresholds.zipWithIndex.drop(1)
            .foldLeft(when(h < thresholds.head, 0L)) {
              case (acc, (t, k)) => acc.when(h < t, k.toLong)
            }.otherwise(6L)
        }
        // narrow 3-column projection FIRST, then fanOut: the weight
        // projection is per-row-heavy (32 md5 per doc) and the local
        // single-row-group parquet would otherwise run it in ONE task
        // (the Tables.fanOut rationale); only (source, doc_id, ntok)
        // rides the redistribution, never text.
        val base = fanOut(documents(s, d).select(col("source"),
          col("doc_id"), size(split(col("text"), " ")).cast("long")
            .as("ntok")))
        // weights materialized in ONE projection before the agg: each
        // replicate's md5 evaluates once per row, then feeds both its
        // Σwx and Σw columns as a plain column reference (inlining w(b)
        // into the aggregates would evaluate every hash twice — agg
        // expressions don't share subexpressions across columns).
        val withW = base.select(
          col("source") +: col("ntok") +:
            (0 until B).map(b => w(b).as(s"w$b")): _*)
        val aggs =
          Seq(count(lit(1)).as("n_docs"), sum(col("ntok")).as("tok_sum")) ++
            (0 until B).flatMap(b => Seq(
              sum(col(s"w$b") * col("ntok")).as(s"sx$b"),
              sum(col(s"w$b")).as(s"sw$b")))
        val means = sort_array(array((0 until B).map(b =>
          expr(s"(100 * sx$b) DIV greatest(sw$b, 1L)")): _*))
        withW.groupBy("source").agg(aggs.head, aggs.tail: _*)
          .select(col("source"), col("n_docs"),
            expr("(100 * tok_sum) DIV n_docs").as("mean_fp"),
            means.as("ms"))
          .select(col("source"), col("n_docs"), col("mean_fp"),
            element_at(col("ms"), 2).as("ci_lo_fp"),
            element_at(col("ms"), 31).as("ci_hi_fp"))
          .orderBy("source")
      },
      Some {
        val B = 32
        val ts = Seq(385749L, 771499L, 964373L, 1028665L, 1044738L,
          1047952L)
        def wSql(b: Int) = {
          val h = s"((('0x' || substr(md5('bs$b-' || " +
            s"CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT) % 1048576)"
          "CASE " + ts.zipWithIndex.map { case (t, k) =>
            s"WHEN $h < $t THEN $k "
          }.mkString + "ELSE 6 END"
        }
        val wCols = (0 until B).map(b => s"${wSql(b)} AS w$b").mkString(", ")
        val sums = (0 until B).map(b =>
          s"sum(w$b * ntok) AS sx$b, sum(w$b) AS sw$b").mkString(", ")
        val meanList = (0 until B).map(b =>
          s"CAST((100 * sx$b) // greatest(sw$b, 1) AS BIGINT)")
          .mkString(", ")
        s"""WITH base AS (
           |  SELECT source, doc_id,
           |    CAST(len(str_split(text, ' ')) AS BIGINT) AS ntok
           |  FROM documents),
           |wt AS (SELECT source, ntok, $wCols FROM base),
           |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |    sum(ntok) AS tok_sum, $sums
           |  FROM wt GROUP BY source),
           |m AS (SELECT source, n_docs,
           |    CAST((100 * tok_sum) // n_docs AS BIGINT) AS mean_fp,
           |    list_sort([$meanList]) AS ms
           |  FROM a)
           |SELECT source, n_docs, mean_fp, ms[2] AS ci_lo_fp,
           |  ms[31] AS ci_hi_fp
           |FROM m ORDER BY source""".stripMargin
      }),

    // A17 per-source Gini concentration of token counts — the
    // length-inequality audit run before trusting per-source length
    // stats: a source whose token mass is concentrated in a few huge
    // docs (Gini → 1) needs chunking/repacking before it can feed a
    // mix allocation, while a uniform source (Gini → 0) can be sampled
    // doc-wise. Exactness contract: with 1-based ranks r over
    // (ntok, doc_id) — the doc_id tiebreak makes the order a
    // deterministic permutation, and swapping tied values never changes
    // Σr·x — the mean-difference form G = (2Σrx − (n+1)Σx)/(n·Σx) is
    // ALL-INTEGER, emitted as ppm via DIV; Σrx accumulates in
    // DECIMAL(38,0) (n²·x̄-scale — overflows BIGINT past ~1e6
    // rows/source). Scale shape: q160's — per-source ranks come from
    // ops/GlobalRank.prefixSum (range-partition + prefix-count) over
    // the order (ntok, doc_id), NEVER a per-source window (one source
    // can be 10 TB = single-reducer); one ranked pass, one partial+final
    // agg to sources-many rows.
    Q("q169_gini_length",
      (s, d) => {
        val sigs = documents(s, d).select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("ntok"))
        graft.ops.GlobalRank.prefixSum(sigs, Seq("source"),
            Seq(col("ntok"), col("doc_id")), lit(1L))._1
          .select(col("source"), (col("before") + 1L).as("r"), col("ntok"))
          .groupBy("source")
          .agg(count(lit(1)).as("n"), sum(col("ntok")).as("tok_sum"),
            sum((col("r") * col("ntok")).cast("decimal(38,0)")).as("srx"))
          .select(col("source"), col("n"), col("tok_sum"),
            expr("CAST((2000000 * srx - CAST(1000000 AS DECIMAL(38,0)) " +
              "* (n + 1) * tok_sum) DIV " +
              "(CAST(n AS DECIMAL(38,0)) * tok_sum) AS BIGINT)")
              .as("gini_ppm"))
          .orderBy("source")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, source,
             |    CAST(len(str_split(text, ' ')) AS BIGINT) AS ntok
             |  FROM documents),
             |r AS (
             |  SELECT source, ntok, CAST(row_number() OVER (
             |    PARTITION BY source ORDER BY ntok, doc_id) AS BIGINT)
             |    AS r
             |  FROM t)
             |SELECT source, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(ntok) AS BIGINT) AS tok_sum,
             |  CAST((2000000 * sum(r * ntok)
             |    - 1000000 * (count(*) + 1) * sum(ntok))
             |    // (count(*) * sum(ntok)) AS BIGINT) AS gini_ppm
             |FROM r GROUP BY source ORDER BY source""".stripMargin)),

    // A18 corpus concentration (Herfindahl–Hirschman index) — the
    // one-number mix audit next to A17's per-source Gini: token mass
    // share per source, HHI = Σ share² (1e6 = one source owns
    // everything), plus the effective source count 1/HHI — what a mix
    // designer reads before trusting "we have 20 sources" (10 of them
    // may be crumbs). Exactness: hhi_ppm = 1e6·Σc² DIV N² and
    // eff_sources = N² DIV Σc² are pure integer forms over exact
    // per-source token counts (Σc² accumulates in DECIMAL(38,0) —
    // N²-scale, overflows BIGINT past ~3e9 tokens).
    // Scale shape: one partial+final agg to sources-many rows, one
    // more to a single row. Nothing else.
    Q("q183_hhi_concentration",
      (s, d) => documents(s, d)
        .select(col("source"),
          size(split(col("text"), " ")).cast("long").as("ntok"))
        .groupBy("source").agg(sum("ntok").as("c"))
        .agg(count(lit(1)).as("n_sources"), sum(col("c")).as("n_tokens"),
          sum(col("c").cast("decimal(38,0)") * col("c")).as("c2"))
        .select(col("n_sources"), col("n_tokens"),
          expr("CAST((1000000 * c2) DIV (CAST(n_tokens AS DECIMAL(38,0))" +
            " * n_tokens) AS BIGINT)").as("hhi_ppm"),
          expr("CAST((CAST(n_tokens AS DECIMAL(38,0)) * n_tokens) " +
            "DIV c2 AS BIGINT)").as("eff_sources")),
      Some("""WITH c AS (
             |  SELECT source,
             |    CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS c
             |  FROM documents GROUP BY source)
             |SELECT CAST(count(*) AS BIGINT) AS n_sources,
             |  CAST(sum(c) AS BIGINT) AS n_tokens,
             |  CAST((1000000 * sum(c * c)) // (sum(c) * sum(c))
             |    AS BIGINT) AS hhi_ppm,
             |  CAST((sum(c) * sum(c)) // sum(c * c) AS BIGINT)
             |    AS eff_sources
             |FROM c""".stripMargin)),

    // A20 sumMap — ClickHouse `sumMap` parity (ops/SumMap): per group,
    // the elementwise sum of a MAP-VALUED column whose key set is data,
    // not schema (per-key measure vectors — the per-event metrics map
    // here carries two event-type-dependent keys per row: a counter and
    // an exact-cents sum). The map surface composes from codegen'd
    // built-ins (explode → (group, key) partial+final sum →
    // map_from_entries over the key-sorted entry list — deterministic
    // key order, ClickHouse's own sumMap convention), never a UDF.
    // Cohort = user_id % 100 (non-negative domain, so Spark pmod and
    // DuckDB % agree). Values are Scalars.cents longs — exact BIGINT
    // sums, no accumulation-order concern.
    // Scale shape: the explode multiplies rows by entries-per-map
    // (metric-vocabulary-bounded, not corpus-bounded); the heavy agg is
    // the map-side-combinable (cohort, k) sum — shuffle rows = cohorts ×
    // distinct keys; the re-assembly agg rides the same hash
    // partitioning on cohort. Nothing collected.
    // DECLARED SHAPE (r15): the library op returns the MAP column, but
    // the driver's pandas comparator cannot sort nested types — so the
    // declared query renders the key-sorted entries as one VARCHAR
    // `k=v,...` column (the q34_parse_array `arr_str` convention; the
    // r14 raw-MAP declaration was the round's only driver-red). The
    // transform lambda runs on the cohorts-sized AGGREGATED output,
    // never the corpus.
    Q("q215_summap",
      (s, d) => {
        val e = Tables.events(s, d)
        val rows = e.select(
          pmod(col("user_id"), lit(100L)).as("cohort"),
          map(
            concat(lit("cnt_"), col("event_type")), lit(1L),
            concat(lit("cents_"), col("event_type")),
            graft.ops.Scalars.cents(col("value"))).as("metrics"))
        graft.ops.SumMap.sumMap(rows, Seq("cohort"), "metrics")
          .select(col("cohort"),
            graft.ops.SumMap.renderEntries(col("metrics"))
              .as("metrics_str"))
          .orderBy("cohort")
      },
      Some(s"""WITH rows AS (
             |  SELECT user_id % 100 AS cohort,
             |    'cnt_' || event_type AS k, CAST(1 AS BIGINT) AS v
             |  FROM events
             |  UNION ALL
             |  SELECT user_id % 100, 'cents_' || event_type,
             |    ${graft.ops.Scalars.centsSql("value")}
             |  FROM events),
             |g AS (
             |  SELECT cohort, k, CAST(sum(v) AS BIGINT) AS v
             |  FROM rows GROUP BY 1, 2)
             |SELECT cohort,
             |  string_agg(k || '=' || v, ',' ORDER BY k) AS metrics_str
             |FROM g GROUP BY cohort ORDER BY cohort""".stripMargin)),

    // A21 minMap/maxMap — the rest of ClickHouse's map-combinator family
    // (ops/SumMap.minMaxMap), in ONE pass: per cohort, the elementwise
    // min AND max of the metrics map over every key that occurs (absent
    // keys contribute nothing — a missing metric is missing, not zero).
    // Same q215 scale shape: one corpus explode into a map-side-
    // combinable (cohort, key) min/max agg, one re-assembly agg over the
    // aggregated cohorts×keys table serving BOTH output maps. Declared
    // shape: VARCHAR `k=v,...` renderings of the key-sorted maps (the
    // q215 driver-comparator note).
    Q("q218_minmax_map",
      (s, d) => {
        val e = Tables.events(s, d)
        val rows = e.select(
          pmod(col("user_id"), lit(100L)).as("cohort"),
          map(
            concat(lit("cnt_"), col("event_type")), lit(1L),
            concat(lit("cents_"), col("event_type")),
            graft.ops.Scalars.cents(col("value"))).as("metrics"))
        graft.ops.SumMap.minMaxMap(rows, Seq("cohort"), "metrics")
          .select(col("cohort"),
            graft.ops.SumMap.renderEntries(col("metrics_min"))
              .as("metrics_min_str"),
            graft.ops.SumMap.renderEntries(col("metrics_max"))
              .as("metrics_max_str"))
          .orderBy("cohort")
      },
      Some(s"""WITH rows AS (
             |  SELECT user_id % 100 AS cohort,
             |    'cnt_' || event_type AS k, CAST(1 AS BIGINT) AS v
             |  FROM events
             |  UNION ALL
             |  SELECT user_id % 100, 'cents_' || event_type,
             |    ${graft.ops.Scalars.centsSql("value")}
             |  FROM events),
             |g AS (
             |  SELECT cohort, k, CAST(min(v) AS BIGINT) AS vmin,
             |    CAST(max(v) AS BIGINT) AS vmax
             |  FROM rows GROUP BY 1, 2)
             |SELECT cohort,
             |  string_agg(k || '=' || vmin, ',' ORDER BY k)
             |    AS metrics_min_str,
             |  string_agg(k || '=' || vmax, ',' ORDER BY k)
             |    AS metrics_max_str
             |FROM g GROUP BY cohort ORDER BY cohort""".stripMargin)),

    // A22 avgMap — the mean member of ClickHouse's map-combinator family
    // (ops/SumMap.avgMap), completing sumMap (A20) / minMap / maxMap
    // (A21): per cohort and key, the fixed-point mean of the metric over
    // the rows where the key occurs — `(1e6·Σv) DIV count` integer
    // micro-units, cross-engine exact (the repo's fixed-point
    // discipline; both inputs are the SAME (cohort, k) agg sumMap runs,
    // with count as one extra column — avgMap costs what sumMap costs).
    // Non-negative domain (Scalars.cents contract), so Spark DIV and
    // DuckDB // agree. Same q215 scale + declared-shape notes.
    Q("q220_avgmap",
      (s, d) => {
        val e = Tables.events(s, d)
        val rows = e.select(
          pmod(col("user_id"), lit(100L)).as("cohort"),
          map(
            concat(lit("cnt_"), col("event_type")), lit(1L),
            concat(lit("cents_"), col("event_type")),
            graft.ops.Scalars.cents(col("value"))).as("metrics"))
        graft.ops.SumMap.avgMap(rows, Seq("cohort"), "metrics")
          .select(col("cohort"),
            graft.ops.SumMap.renderEntries(col("metrics"))
              .as("metrics_str"))
          .orderBy("cohort")
      },
      Some(s"""WITH rows AS (
             |  SELECT user_id % 100 AS cohort,
             |    'cnt_' || event_type AS k, CAST(1 AS BIGINT) AS v
             |  FROM events
             |  UNION ALL
             |  SELECT user_id % 100, 'cents_' || event_type,
             |    ${graft.ops.Scalars.centsSql("value")}
             |  FROM events),
             |g AS (
             |  SELECT cohort, k,
             |    CAST((1000000 * CAST(sum(v) AS BIGINT)) // count(*)
             |      AS BIGINT) AS v
             |  FROM rows GROUP BY 1, 2)
             |SELECT cohort,
             |  string_agg(k || '=' || v, ',' ORDER BY k) AS metrics_str
             |FROM g GROUP BY cohort ORDER BY cohort""".stripMargin)),

    // A23 conditional-aggregate combinators — ClickHouse `countIf` /
    // `sumIf` / `avgIf` / `minIf` / `maxIf` parity as a DECLARED row
    // (the sum(CASE) rewrite is used inside many queries — q212's
    // funnel counters — but nothing pinned the combinator family
    // explicitly). Spark-first form: `agg(f(when(cond, x)))` — the
    // codegen'd conditional feeds the stock aggregate, one partial+
    // final hash agg, NO extra pass per condition (all five ride the
    // same map-side combine). Exactness: cents quantization before the
    // sums (§7.5 moneySum/cents discipline), fixed-point micro avg with
    // the empty-group NULL the -If family defines (a group where no row
    // qualifies averages to NULL, not 0), integer DIV on a non-negative
    // domain.
    Q("q221_agg_if",
      (s, d) => lineitem(s, d)
        .select(col("l_returnflag"), col("l_quantity"), col("l_discount"),
          graft.ops.Scalars.cents(col("l_extendedprice")).as("cents"))
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n_all"),
          count(when(col("l_quantity") > 25, lit(1))).as("cnt_hi"),
          sum(when(col("l_quantity") > 25, col("cents")))
            .as("sum_hi_cents"),
          sum(when(col("l_discount") > 0.05, col("cents")))
            .as("sum_disc_cents"),
          min(when(col("l_quantity") > 25, col("cents")))
            .as("min_hi_cents"),
          max(when(col("l_quantity") > 25, col("cents")))
            .as("max_hi_cents"))
        // avg in whole cents, not micro-scaled: a 1e6 pre-scale on the
        // GRAND sum (~3e13 cents at sf1) would overflow long — scaling
        // before a division is only safe on per-key sums (q220's shape),
        // never on a fact-table grand total (q209's guard rationale)
        .withColumn("avg_hi_cents",
          expr("CASE WHEN cnt_hi = 0 THEN CAST(NULL AS BIGINT) " +
            "ELSE sum_hi_cents DIV cnt_hi END"))
        .orderBy("l_returnflag"),
      Some(s"""SELECT l_returnflag,
             |  CAST(count(*) AS BIGINT) AS n_all,
             |  CAST(count(CASE WHEN l_quantity > 25 THEN 1 END)
             |    AS BIGINT) AS cnt_hi,
             |  CAST(sum(CASE WHEN l_quantity > 25
             |    THEN ${graft.ops.Scalars.centsSql("l_extendedprice")} END)
             |    AS BIGINT) AS sum_hi_cents,
             |  CAST(sum(CASE WHEN l_discount > CAST(0.05 AS DOUBLE)
             |    THEN ${graft.ops.Scalars.centsSql("l_extendedprice")} END)
             |    AS BIGINT) AS sum_disc_cents,
             |  CAST(min(CASE WHEN l_quantity > 25
             |    THEN ${graft.ops.Scalars.centsSql("l_extendedprice")} END)
             |    AS BIGINT) AS min_hi_cents,
             |  CAST(max(CASE WHEN l_quantity > 25
             |    THEN ${graft.ops.Scalars.centsSql("l_extendedprice")} END)
             |    AS BIGINT) AS max_hi_cents,
             |  CASE WHEN count(CASE WHEN l_quantity > 25 THEN 1 END) = 0
             |    THEN CAST(NULL AS BIGINT)
             |    ELSE CAST(CAST(sum(CASE WHEN l_quantity > 25
             |      THEN ${graft.ops.Scalars.centsSql("l_extendedprice")}
             |      END) AS BIGINT)
             |      // count(CASE WHEN l_quantity > 25 THEN 1 END)
             |      AS BIGINT) END AS avg_hi_cents
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // A25 uniqUpTo(N) — ClickHouse parity via the bounded-state typed
    // aggregator (ops/UniqUpTo): per (event_type, day), the EXACT
    // distinct user count while ≤ N (N = 16), saturating at N+1 —
    // the small-cardinality member the sketch tier estimates (KMV/HLL)
    // but never answers exactly. State per group is ≤ N+1 sorted longs
    // (a saturated partial stops absorbing entirely and merges O(1)),
    // map-side combinable, associative — so unlike the sketches this
    // row carries a FULL DuckDB oracle: `least(count(DISTINCT u), N+1)`
    // is the same function. UniqUpToSpec pins partition invariance and
    // both regimes (below-cap exact, above-cap saturated).
    Q("q224_uniq_upto",
      (s, d) => {
        val uniq16 = udaf(new graft.ops.UniqUpToAggregator(16))
        Tables.events(s, d)
          .select(col("event_type"),
            Scalars.longDiv("ts", 86400000000000L).as("day"),
            col("user_id"))
          .groupBy("event_type", "day")
          .agg(uniq16(col("user_id")).as("u16"))
          .orderBy("event_type", "day")
      },
      Some("""SELECT event_type,
             |  epoch_ns(ts) // 86400000000000 AS day,
             |  least(CAST(count(DISTINCT user_id) AS BIGINT), 17) AS u16
             |FROM events GROUP BY 1, 2
             |ORDER BY event_type, day""".stripMargin)),

    // A30 higher moments — ClickHouse `skewPop`/`kurtPop` parity
    // (ops/Moments): population skewness and kurtosis of value cents
    // per event_type — the distribution-SHAPE summary beside q62's
    // stddev/corr tier (lopsidedness and tail weight — the readout
    // that decides whether mean-based gates like q222 are even
    // appropriate). Exact power sums (Σx BIGINT; Σx²/Σx³/Σx⁴
    // DECIMAL(38,0) — x⁴ of 5-digit cents exceeds a long PER ROW, so
    // the powers are built by decimal multiplication and the sums
    // widen exactly; the oracle replays them in HUGEINT), then the
    // central-moment ratios as one identical IEEE tree → bit-identical
    // doubles, full oracle.
    Q("q230_moments",
      (s, d) => graft.ops.Moments.skewKurt(
        Tables.events(s, d).select(col("event_type"),
          graft.ops.Scalars.cents(col("value")).as("x")),
        Seq("event_type"), "x")
        .orderBy("event_type"),
      Some(s"""WITH e AS (
             |  SELECT event_type,
             |    ${graft.ops.Scalars.centsSql("value")} AS x
             |  FROM events),
             |p AS (
             |  SELECT event_type,
             |    CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(x) AS BIGINT) AS sx,
             |    sum(CAST(x AS HUGEINT) * x) AS sx2,
             |    sum(CAST(x AS HUGEINT) * x * x) AS sx3,
             |    sum(CAST(x AS HUGEINT) * x * x * x) AS sx4
             |  FROM e GROUP BY 1),
             |${graft.ops.Moments.oracleTail("event_type")}
             |ORDER BY event_type""".stripMargin)),

    // A37 one-way ANOVA — ClickHouse `analysisOfVariance` parity: does
    // the mean of value cents differ across the event types AT ALL —
    // the k-group generalization of the two-sample gates (A24/A26 ask
    // "did THIS split move"; this asks "do the k groups share a mean"),
    // F = (SSB/(k−1)) / (SSW/(n−k)). Exact per-group partials (n_g,
    // Σx BIGINT, Σx² DECIMAL(38,0) — the A24 contract); the one
    // order-sensitive float reduction Σ_g sx_g²/n_g is pinned by an
    // ORDERED running-sum window over the types-sized group table
    // (ROWS UNBOUNDED PRECEDING accumulates in ORDER BY order in both
    // engines, and the terms are ≥ 0 so max(cum) is the final prefix) —
    // every other sum is exact integer/decimal; Σx² converts through
    // its exact digit string (the q230 > 2⁵³ lesson); the F tail is ONE
    // mirrored IEEE tree. Degenerate boards (k < 2, SSW ≤ 0) filtered
    // on identical doubles.
    // Scale shape: ONE corpus partial+final agg to the types-sized
    // table; the ordered window and the F algebra run on k rows (the
    // global window is k-sized BY CONSTRUCTION, never fact rows).
    Q("q241_anova",
      (s, d) => anova(events(s, d).select(col("event_type"),
        Scalars.cents(col("value")).as("x"))),
      Some(s"""WITH e AS (
             |  SELECT event_type, ${Scalars.centsSql("value")} AS x
             |  FROM events),
             |g AS (
             |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_g,
             |    CAST(sum(x) AS BIGINT) AS sx,
             |    sum(CAST(x AS HUGEINT) * x) AS sxx
             |  FROM e GROUP BY 1),
             |t AS (
             |  SELECT *, CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) /
             |      CAST(n_g AS DOUBLE) AS t_g
             |  FROM g),
             |c AS (
             |  SELECT *, sum(t_g) OVER (ORDER BY event_type
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS cum_t
             |  FROM t),
             |tot AS (
             |  SELECT CAST(count(*) AS BIGINT) AS k,
             |    CAST(sum(n_g) AS BIGINT) AS n,
             |    CAST(sum(sx) AS BIGINT) AS s_all,
             |    sum(sxx) AS sxx_all,
             |    max(cum_t) AS a_t
             |  FROM c),
             |f AS (
             |  SELECT *,
             |    a_t - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE) /
             |      CAST(n AS DOUBLE) AS ssb,
             |    CAST(CAST(sxx_all AS VARCHAR) AS DOUBLE) - a_t AS ssw,
             |    CAST(k - 1 AS BIGINT) AS df1,
             |    CAST(n - k AS BIGINT) AS df2
             |  FROM tot WHERE k > 1)
             |SELECT k, n, df1, df2, ssb, ssw,
             |  (ssb / CAST(df1 AS DOUBLE)) / (ssw / CAST(df2 AS DOUBLE))
             |    AS f_stat,
             |  CAST(CASE WHEN (ssb / CAST(df1 AS DOUBLE)) /
             |    (ssw / CAST(df2 AS DOUBLE)) > 2.37 THEN 1 ELSE 0 END
             |    AS INT) AS significant
             |FROM f WHERE ssw > 0""".stripMargin)),

    // A38 correlation/covariance MATRIX — ClickHouse `corrMatrix` /
    // `covarSampMatrix` parity: all 6 pairwise Pearson correlations and
    // sample covariances over the four lineitem measures (quantity,
    // price, discount, tax cents) from ONE pass — the multi-measure
    // generalization of q62's single corr/covar pair. Exact partials:
    // n, four Σx BIGINT, four Σx² and six Σxy DECIMAL(38,0) (price² at
    // 1e14 per row needs decimal; every sum is exact and associative),
    // all 15 aggregates on one map-side combine. Each matrix cell is
    // then ONE mirrored IEEE tree over the 1-row partials table —
    // corr = (n·Σxy − ΣxΣy)/(sqrt(n·Σx²−(Σx)²)·sqrt(n·Σy²−(Σy)²)) —
    // with every DECIMAL partial converted through its exact digit
    // string (the q230 > 2⁵³ lesson; the BIGINT Σx stay < 2⁵³ and
    // convert directly). Both engines evaluate the SAME tree generated
    // from one template (corrTree/covarTree below), so the doubles
    // match bit-for-bit — full hash oracle, no tolerance band.
    // Scale shape: ONE corpus-sized partial+final agg over a pruned
    // 4-column scan; the 6-pair stack runs on one row.
    Q("q242_corr_matrix",
      (s, d) => corrMatrix(lineitem(s, d).select(
        col("l_quantity").cast("long").as("q"),
        Scalars.cents(col("l_extendedprice")).as("p"),
        Scalars.cents(col("l_discount")).as("dd"),
        Scalars.cents(col("l_tax")).as("tt"))),
      Some(s"""WITH m AS (
             |  SELECT CAST(l_quantity AS BIGINT) AS q,
             |    ${Scalars.centsSql("l_extendedprice")} AS p,
             |    ${Scalars.centsSql("l_discount")} AS dd,
             |    ${Scalars.centsSql("l_tax")} AS tt
             |  FROM lineitem),
             |part AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(q) AS BIGINT) AS s_q,
             |    CAST(sum(p) AS BIGINT) AS s_p,
             |    CAST(sum(dd) AS BIGINT) AS s_d,
             |    CAST(sum(tt) AS BIGINT) AS s_t,
             |    sum(CAST(q AS HUGEINT) * q) AS ss_qq,
             |    sum(CAST(p AS HUGEINT) * p) AS ss_pp,
             |    sum(CAST(dd AS HUGEINT) * dd) AS ss_dd,
             |    sum(CAST(tt AS HUGEINT) * tt) AS ss_tt,
             |    sum(CAST(q AS HUGEINT) * p) AS ss_qp,
             |    sum(CAST(q AS HUGEINT) * dd) AS ss_qd,
             |    sum(CAST(q AS HUGEINT) * tt) AS ss_qt,
             |    sum(CAST(p AS HUGEINT) * dd) AS ss_pd,
             |    sum(CAST(p AS HUGEINT) * tt) AS ss_pt,
             |    sum(CAST(dd AS HUGEINT) * tt) AS ss_dt
             |  FROM m)
             |SELECT u.pair, u.corr, u.covar_samp, part.n
             |FROM part, (
             |${corrPairs.map { case (tag, sx, sy, sxx, syy, sxy) =>
                s"  SELECT '$tag' AS pair, " +
                  s"${corrTree("VARCHAR", sx, sy, sxx, syy, sxy)} AS corr, " +
                  s"${covarTree("VARCHAR", sx, sy, sxy)} AS covar_samp " +
                  "FROM part" }.mkString("\n  UNION ALL\n")}
             |) u
             |ORDER BY u.pair""".stripMargin))
  )

  /** A37 one-way ANOVA over (event_type, x cents) rows — ClickHouse
    * `analysisOfVariance` parity; see q241's scaladoc for the
    * ordered-prefix-sum float discipline.
    */
  private[graft] def anova(
      e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val g = e.groupBy("event_type")
      .agg(count(lit(1)).as("n_g"), sum("x").as("sx"),
        sum(expr("CAST(x * x AS DECIMAL(38,0))")).as("sxx"))
      // one IEEE tree from exact ints — mirrored by the oracle's t CTE
      .withColumn("t_g", expr(
        "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n_g AS DOUBLE)"))
    // the ONLY order-sensitive float fold: pin it with a LEFT FOLD over
    // the key-sorted collected (event_type, t_g) list — the identical
    // sequence of IEEE additions the oracle's ordered running-sum window
    // performs (ascending event_type, sequential; 0.0 + x == x exactly
    // for x >= 0), so the double is bit-identical, with NO window and no
    // second pass: everything lands in ONE partial+final agg whose
    // collect_list state is k-sized (event-type cardinality) by
    // construction. Everything else folds exactly (integer/decimal).
    g.agg(count(lit(1)).as("k"), sum("n_g").as("n"),
        sum("sx").as("s_all"), sum("sxx").as("sxx_all"),
        sort_array(collect_list(struct(col("event_type"), col("t_g"))))
          .as("ts"))
      .withColumn("a_t",
        expr("aggregate(ts, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.t_g)"))
      .drop("ts")
      .filter(col("k") > 1)
      .withColumn("ssb", expr(
        "a_t - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE) / " +
          "CAST(n AS DOUBLE)"))
      .withColumn("ssw", expr(
        "CAST(CAST(sxx_all AS STRING) AS DOUBLE) - a_t"))
      .filter(expr("ssw > 0"))
      .withColumn("df1", (col("k") - 1).cast("long"))
      .withColumn("df2", (col("n") - col("k")).cast("long"))
      .withColumn("f_stat", expr(
        "(ssb / CAST(df1 AS DOUBLE)) / (ssw / CAST(df2 AS DOUBLE))"))
      .withColumn("significant", expr(
        "CAST(CASE WHEN f_stat > 2.37 THEN 1 ELSE 0 END AS INT)"))
      .select("k", "n", "df1", "df2", "ssb", "ssw", "f_stat",
        "significant")
  }

  /** A38 corr/covar matrix over (q, p, dd, tt) integer measures —
    * ClickHouse `corrMatrix`/`covarSampMatrix` parity; see q242's
    * scaladoc for the exact-partials + digit-string discipline.
    */
  private[graft] def corrMatrix(
      m: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val part = m.agg(
      count(lit(1)).as("n"),
      sum("q").as("s_q"), sum("p").as("s_p"),
      sum("dd").as("s_d"), sum("tt").as("s_t"),
      sum(expr("CAST(q*q AS DECIMAL(38,0))")).as("ss_qq"),
      sum(expr("CAST(p*p AS DECIMAL(38,0))")).as("ss_pp"),
      sum(expr("CAST(dd*dd AS DECIMAL(38,0))")).as("ss_dd"),
      sum(expr("CAST(tt*tt AS DECIMAL(38,0))")).as("ss_tt"),
      sum(expr("CAST(q*p AS DECIMAL(38,0))")).as("ss_qp"),
      sum(expr("CAST(q*dd AS DECIMAL(38,0))")).as("ss_qd"),
      sum(expr("CAST(q*tt AS DECIMAL(38,0))")).as("ss_qt"),
      sum(expr("CAST(p*dd AS DECIMAL(38,0))")).as("ss_pd"),
      sum(expr("CAST(p*tt AS DECIMAL(38,0))")).as("ss_pt"),
      sum(expr("CAST(dd*tt AS DECIMAL(38,0))")).as("ss_dt"))
    val withCells = corrPairs.foldLeft(part) {
      case (df, (tag, sx, sy, sxx, syy, sxy)) => df
        .withColumn(s"c_$tag",
          expr(corrTree("STRING", sx, sy, sxx, syy, sxy)))
        .withColumn(s"v_$tag", expr(covarTree("STRING", sx, sy, sxy)))
    }
    withCells.select(expr(
        "stack(6, " + corrPairs.map { case (tag, _, _, _, _, _) =>
          s"'$tag', c_$tag, v_$tag" }.mkString(", ") +
          ") AS (pair, corr, covar_samp)"),
        col("n"))
      .orderBy("pair")
  }

  /** A38 pair list: (tag, Σx, Σy, Σx², Σy², Σxy) column names (lazy:
    * referenced from `all`'s initializer above its definition site).
    */
  private lazy val corrPairs: Seq[(String, String, String, String, String,
      String)] = Seq(
    ("qty_price", "s_q", "s_p", "ss_qq", "ss_pp", "ss_qp"),
    ("qty_disc", "s_q", "s_d", "ss_qq", "ss_dd", "ss_qd"),
    ("qty_tax", "s_q", "s_t", "ss_qq", "ss_tt", "ss_qt"),
    ("price_disc", "s_p", "s_d", "ss_pp", "ss_dd", "ss_pd"),
    ("price_tax", "s_p", "s_t", "ss_pp", "ss_tt", "ss_pt"),
    ("disc_tax", "s_d", "s_t", "ss_dd", "ss_tt", "ss_dt"))

  /** ONE template generates BOTH engines' Pearson tree (`strTy` is
    * STRING for Spark, VARCHAR for DuckDB — the digit-string route for
    * the > 2⁵³ decimal partials, q230 lesson); textual lockstep is by
    * construction, not by convention.
    */
  private def dstr(strTy: String, c: String): String =
    s"CAST(CAST($c AS $strTy) AS DOUBLE)"

  private def corrTree(strTy: String, sx: String, sy: String,
      sxx: String, syy: String, sxy: String): String =
    s"(CAST(n AS DOUBLE) * ${dstr(strTy, sxy)} - " +
      s"CAST($sx AS DOUBLE) * CAST($sy AS DOUBLE)) / " +
      s"(sqrt(CAST(n AS DOUBLE) * ${dstr(strTy, sxx)} - " +
      s"CAST($sx AS DOUBLE) * CAST($sx AS DOUBLE)) * " +
      s"sqrt(CAST(n AS DOUBLE) * ${dstr(strTy, syy)} - " +
      s"CAST($sy AS DOUBLE) * CAST($sy AS DOUBLE)))"

  private def covarTree(strTy: String, sx: String, sy: String,
      sxy: String): String =
    s"(${dstr(strTy, sxy)} - CAST($sx AS DOUBLE) * " +
      s"CAST($sy AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE)"
}
