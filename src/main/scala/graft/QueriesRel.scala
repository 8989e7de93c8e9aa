package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Scalars

/** Relational core — SURVEY.md §2.1–2.4, 2.6, 2.7 (scans, filters, joins,
  * aggregations, sort/limit/pagination, set ops).
  *
  * Scale notes (north star = 100 TB, SURVEY.md §7.5):
  *  - Dimension joins (`customer`, `nation`, `region`) are explicitly
  *    `broadcast()` — at 1000 executors a shuffle of the fact side on a
  *    dimension key is the single biggest avoidable cost.
  *  - Fact⋈fact joins are left to AQE (sort-merge w/ runtime skew split).
  *  - All aggregations are partial+final hash aggs (map-side combine free).
  *  - Every query ends in a total ORDER BY with a unique tiebreak so the
  *    DuckDB hash-compare is deterministic (§7.5 #5); the sort is for the
  *    verification dump, not a scale bottleneck (top-level sorts of small
  *    aggregate outputs, or bounded LIMIT pushes TakeOrdered).
  */
object QueriesRel {
  import Tables._

  /** One-time-per-JVM order-grain bucketed layout backing q13b: lineitem
    * and orders projected to the query columns, bucketed AND sorted by
    * orderkey (8 buckets). Table names carry a hash of the source dir so
    * sf0.01 / sf0.1 / sf1 runs cannot collide; first touch per JVM always
    * rewrites, so stale files from a previous run cannot leak. Cached so
    * bench reruns (min-of-3) time the recurring zero-exchange join, not
    * the one-time layout write — exactly the amortization bucketing buys
    * at 100 TB, where the layout is written once and joined daily. Not on
    * LayoutCache: the layout is a catalog table written by saveAsTable,
    * which an atomic directory move cannot register.
    */
  private val bucketedFor =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  /** computeIfAbsent-style exclusive first-touch build. TrieMap's
    * getOrElseUpdate may evaluate the builder twice under concurrent first
    * callers (ADVICE r05) — two threads interleaving DROP TABLE / recursive
    * rm / saveAsTable on the same b13_* tables would corrupt the layout.
    * The harness is single-threaded today; the lock makes it safe anyway. */
  private def orderGrainBucketed(s: SparkSession, d: String): (String, String) =
    bucketedFor.synchronized { bucketedFor.getOrElseUpdate(d, {
      val h = (d.hashCode & 0x7fffffff).toHexString
      val lt = s"b13_lineitem_$h"
      val ot = s"b13_orders_$h"
      // a previous JVM's layout files survive in the warehouse dir while
      // the in-memory catalog starts empty — saveAsTable would then fail
      // with LOCATION_ALREADY_EXISTS. Drop both catalog entry and stale
      // location before the (re)write.
      val wh = java.nio.file.Paths.get(java.net.URI.create(
        s.conf.get("spark.sql.warehouse.dir")).getPath)
      Seq(lt, ot).foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(wh.resolve(t).toFile)
      }
      graft.ops.Bucketing.writeBucketed(
        lineitem(s, d).select("l_orderkey", "l_quantity"),
        lt, "l_orderkey", 8, sortCol = Some("l_orderkey"))
      graft.ops.Bucketing.writeBucketed(
        orders(s, d).select("o_orderkey"),
        ot, "o_orderkey", 8, sortCol = Some("o_orderkey"))
      (lt, ot)
    }) }

  val all: Seq[Q] = Seq(

    // S11 healthcheck — reference `drivers/aiochclient_lab.py:11-12` SELECT 1.
    Q("q00_select_one",
      (s, _) => s.sql("SELECT 1 AS one"),
      Some("SELECT 1 AS one")),

    // S1/P1 scan + projection — reference `s3_rankings_collector.py:134`.
    // Column pruning reaches the parquet scan (ReadSchema shows 5 cols).
    Q("q01_scan_project",
      (s, d) => lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "l_quantity")
        // (l_orderkey, l_linenumber) is NOT unique in the testdata (143k
        // dup pairs at sf0.1) — row-level dumps must totally order over
        // the full output tuple or tie order diverges between engines
        // once the sort is big enough to range-partition (seen at sf1).
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "l_quantity"),
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
             |       l_quantity
             |FROM lineitem
             |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey,
             |         l_quantity""".stripMargin)),

    // P3 range predicate on a time column — reference
    // `s3_rankings_collector.py:136` (`last_time_scheduled > ts`).
    // Predicate pushes down to the parquet scan (PushedFilters).
    Q("q02_filter_range",
      (s, d) => orders(s, d)
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_totalprice") > 150000.0)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"),
          col("o_orderdate").cast("date").as("o_date"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice,
             |       CAST(o_orderdate AS DATE) AS o_date
             |FROM orders
             |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
             |  AND o_totalprice > 150000.0
             |ORDER BY o_orderkey""".stripMargin)),

    // P4 conjunctive equality+range+prefix — reference
    // `rankings_generator.py:124` (status/tracked/timestamp conjunction).
    Q("q03_filter_conjunctive",
      (s, d) => orders(s, d)
        .filter(col("o_orderstatus") === "F" &&
          col("o_totalprice") > 100000.0 &&
          col("o_orderpriority").startsWith("1-"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice
             |FROM orders
             |WHERE o_orderstatus = 'F' AND o_totalprice > 100000.0
             |  AND o_orderpriority LIKE '1-%'
             |ORDER BY o_orderkey""".stripMargin)),

    // P5 null-rejection — reference `rankings_generator.py:158-162`
    // (drop rows with null url/rank before emitting).
    Q("q04_filter_notnull",
      (s, d) => lineitem(s, d)
        .na.drop(Seq("l_returnflag", "l_quantity"))
        .groupBy("l_returnflag").agg(count(lit(1)).as("cnt"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS cnt
             |FROM lineitem
             |WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // A1 per-group COUNT(*) — reference progress counters
    // `concurrently.py:20-23`.
    Q("q05_group_count",
      (s, d) => orders(s, d)
        .groupBy("o_orderpriority").agg(count(lit(1)).as("cnt"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt
             |FROM orders GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // A2 grouped measures (flagship; TPC-H Q1 shape). The reference's
    // measure columns volume/cpc/traffic (`rankings_generator.py:169-177`)
    // aggregate exactly like quantity/extendedprice here.
    Q("q06_group_measures",
      (s, d) => lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        // quantity sums/avgs stay double (quantities are integers 1-50 —
        // double sums are exact at any scale); PRICE sums go through
        // Scalars.moneySum (exact decimal cents) because a double sum over
        // millions of rows is accumulation-order-dependent (see moneySum
        // scaladoc; observed cent-flip at sf1 on q60's grand total)
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          Scalars.moneySum(col("l_extendedprice")).as("sum_base_price"),
          Scalars.moneySum(Scalars.round2(
            col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .as("sum_disc_price"),
          round(avg("l_quantity"), 2).as("avg_qty"),
          Scalars.round2(Scalars.moneySum(col("l_extendedprice")) /
            count(lit(1))).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some(s"""SELECT l_returnflag, l_linestatus,
             |  round(sum(l_quantity), 2) AS sum_qty,
             |  ${Scalars.moneySumSql("l_extendedprice")} AS sum_base_price,
             |  ${Scalars.moneySumSql(Scalars.round2Sql(
                  "l_extendedprice * (1.0 - l_discount)"))} AS sum_disc_price,
             |  round(avg(l_quantity), 2) AS avg_qty,
             |  ${Scalars.round2Sql(
                  Scalars.moneySumSql("l_extendedprice") + " / count(*)")}
             |    AS avg_price,
             |  CAST(count(*) AS BIGINT) AS count_order
             |FROM lineitem
             |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // A3 multi-key group (domain × date analog) — fact grain
    // `rankings_data/rankings_en-ca_1.csv:1`.
    Q("q07_group_multikey",
      (s, d) => orders(s, d)
        .groupBy(col("o_orderstatus"),
          date_trunc("month", col("o_orderdate")).cast("date").as("mon"))
        .agg(count(lit(1)).as("cnt"),
          Scalars.moneySum(col("o_totalprice")).as("revenue"))
        .orderBy("o_orderstatus", "mon"),
      Some(s"""SELECT o_orderstatus,
             |  CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
             |  CAST(count(*) AS BIGINT) AS cnt,
             |  ${Scalars.moneySumSql("o_totalprice")} AS revenue
             |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // A4 exact COUNT(DISTINCT) — LowCardinality design implies distinct
    // analytics (`rankings_generator.py:144`).
    Q("q08_count_distinct",
      (s, d) => lineitem(s, d)
        .agg(countDistinct(col("l_partkey")).as("d_part"),
          countDistinct(col("l_suppkey")).as("d_supp")),
      Some("""SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS d_part,
             |       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS d_supp
             |FROM lineitem""".stripMargin)),

    // A5 approximate distinct (HLL) — the 5B-row-scale answer to A4
    // (`random_data_generator.py:21-22`). No oracle: approximate.
    Q("q08b_approx_distinct",
      (s, d) => lineitem(s, d)
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("apx_part")),
      None),

    // A6 rollup (domain→date OLAP subtotal parity). Null grouping keys are
    // coalesced to 'ALL' so ordering is total and engine-independent.
    Q("q09_rollup",
      (s, d) => lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 2).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("cnt"), col("sum_qty"))
        .orderBy("rf", "ls"),
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS rf,
             |       coalesce(l_linestatus, 'ALL') AS ls,
             |       CAST(count(*) AS BIGINT) AS cnt,
             |       round(sum(l_quantity), 2) AS sum_qty
             |FROM lineitem
             |GROUP BY ROLLUP(l_returnflag, l_linestatus)
             |ORDER BY rf, ls""".stripMargin)),

    // J1 key-lookup join — reference per-topic DynamoDB get_item fan-out
    // (`s3_rankings_collector.py:85-95`) → broadcast hash join of the small
    // key table against the fact table. customer (dim) is broadcast.
    Q("q10_lookup_join",
      (s, d) => orders(s, d)
        .join(broadcast(customer(s, d)),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("cnt"),
          Scalars.moneySum(col("o_totalprice")).as("revenue"))
        .orderBy("c_mktsegment"),
      Some(s"""SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS cnt,
             |       ${Scalars.moneySumSql("o_totalprice")} AS revenue
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // J2 anti-join — reference idempotency flag check
    // (`ranking_urls_ingestor.py:88-90`: skip already-processed chunks).
    Q("q11_anti_join",
      (s, d) => customer(s, d)
        .join(orders(s, d), col("c_custkey") === col("o_custkey"),
          "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE NOT EXISTS
             |  (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |ORDER BY c_custkey""".stripMargin)),

    // J3 semi-join — reference keep-only-topics-with-index
    // (`ranking_urls_generator.py:234-239`).
    Q("q12_semi_join",
      (s, d) => customer(s, d)
        .join(orders(s, d), col("c_custkey") === col("o_custkey"),
          "left_semi")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_mktsegment FROM customer
             |WHERE EXISTS
             |  (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |ORDER BY c_custkey""".stripMargin)),

    // J4 inner fact⋈fact join at shuffle scale — delegated to ClickHouse in
    // the reference; here a sort-merge join under AQE (skew-safe at 100 TB).
    Q("q13_inner_join",
      (s, d) => lineitem(s, d)
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          Scalars.moneySum(Scalars.round2(
            col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .as("revenue"))
        .orderBy("o_orderpriority"),
      Some(s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt,
             |  ${Scalars.moneySumSql(Scalars.round2Sql(
                  "l_extendedprice * (1.0 - l_discount)"))} AS revenue
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // J4-scale bucketed twin of q13 (VERDICT r04 #6) — the 100× answer to
    // the recurring fact⋈fact join: both sides pre-bucketed AND pre-sorted
    // by orderkey, so the sort-merge join reads bucket files side by side
    // with NO exchange and NO sort on either input, and the order-grain
    // rollup reuses the same bucket partitioning (no agg exchange either).
    // The layout write is once-per-JVM (amortized, like a nightly-written
    // layout joined by every downstream query); the steady-state plan is
    // gated in PlanSpec (zero hashpartitioning exchanges). Results are
    // exact, so unlike the approx twins this one keeps a full oracle.
    Q("q13b_bucketed_join",
      (s, d) => {
        val (lt, ot) = orderGrainBucketed(s, d)
        val l = s.table(lt).hint("merge")
        val o = s.table(ot)
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .groupBy("o_orderkey")
          .agg(count(lit(1)).as("cnt"),
            round(sum("l_quantity"), 2).as("sum_qty"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, CAST(count(*) AS BIGINT) AS cnt,
             |       round(sum(l_quantity), 2) AS sum_qty
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin)),

    // J5 left outer join — enrich-with-optional analog of nullable
    // `subdomain` (`rankings_generator.py:167`). count(col) skips nulls in
    // both engines, so zero-order customers show cnt 0.
    Q("q14_left_join",
      (s, d) => customer(s, d)
        .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("num_orders"))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS num_orders
             |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
             |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin)),

    // J6 theta/range join — epoch-window matching analog
    // (`s3_rankings_collector.py:87`). Small dims → broadcast nested loop.
    Q("q15_range_join",
      (s, d) => nation(s, d)
        .join(broadcast(region(s, d)),
          col("n_regionkey") < col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("cnt"), min("n_name").as("first_nation"))
        .orderBy("r_name"),
      Some("""SELECT r_name, CAST(count(*) AS BIGINT) AS cnt,
             |       min(n_name) AS first_nation
             |FROM nation JOIN region ON n_regionkey < r_regionkey
             |GROUP BY r_name ORDER BY r_name""".stripMargin)),

    // J-star 3-table star join (VERDICT r04 #5) — the reference's
    // warehouse-delegated volume/traffic rollups imply fact ⋈ fact ⋈ dim
    // stars (domain × date × topic). Mixed physical strategy, declared
    // explicitly because it is the 100 TB shape: the fact⋈fact edge
    // (lineitem ⋈ orders, both too big to broadcast at scale) is hinted
    // SHUFFLE_MERGE so the plan gate pins SMJ even at test sizes where
    // autoBroadcast would hide it; the dim edge (customer) broadcasts.
    // At 100 TB AQE picks exactly this split unhinted — the hint removes
    // the size-dependence from the declared artifact.
    Q("q94_star_join",
      (s, d) => lineitem(s, d)
        .join(orders(s, d).hint("merge"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(customer(s, d)),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          Scalars.moneySum(Scalars.round2(
            col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .as("revenue"))
        .orderBy("c_mktsegment", "o_orderpriority"),
      Some(s"""SELECT c_mktsegment, o_orderpriority,
             |  CAST(count(*) AS BIGINT) AS cnt,
             |  ${Scalars.moneySumSql(Scalars.round2Sql(
                  "l_extendedprice * (1.0 - l_discount)"))} AS revenue
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment, o_orderpriority
             |ORDER BY c_mktsegment, o_orderpriority""".stripMargin)),

    // J12 deep join graph — the TPC-H Q5 shape over all six relational
    // testdata tables: revenue by nation where customer and supplier sit
    // in the same ASIA nation, one order-date year. Join ORDER is the
    // declared design: region→nation reduce the two dim chains first
    // (broadcast), the date filter reaches the orders scan, and the only
    // fact⋈fact edge (lineitem ⋈ reduced orders) runs ONCE, sort-merge
    // (q94's hint rationale: pin the 100 TB strategy at test sizes) —
    // never an unreduced fact join. Supplier (with its nation name) rides
    // a broadcast carrying the c_nationkey = s_nationkey same-nation
    // constraint. At 1000 executors only lineitem⋈orders shuffles, and
    // both its inputs are pre-filtered.
    Q("q113_deep_join",
      (s, d) => {
        val asia = nation(s, d)
          .join(broadcast(region(s, d).filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select("n_nationkey", "n_name")
        val sup = supplier(s, d)
          .join(broadcast(asia), col("s_nationkey") === col("n_nationkey"))
          .select("s_suppkey", "s_nationkey", "n_name")
        val cust = customer(s, d)
          .join(broadcast(asia.select(col("n_nationkey").as("cn_key"))),
            col("c_nationkey") === col("cn_key"))
          .select("c_custkey", "c_nationkey")
        val ord = orders(s, d)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .select("o_orderkey", "c_nationkey")
        lineitem(s, d)
          .join(ord.hint("merge"), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(sup),
            col("l_suppkey") === col("s_suppkey") &&
              col("c_nationkey") === col("s_nationkey"))
          .groupBy("n_name")
          .agg(Scalars.moneySum(Scalars.round2(
            col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .as("revenue"))
          .orderBy(col("revenue").desc, col("n_name").asc)
      },
      Some(s"""SELECT n_name,
             |  ${Scalars.moneySumSql(Scalars.round2Sql(
                  "l_extendedprice * (1.0 - l_discount)"))} AS revenue
             |FROM customer
             |JOIN orders ON c_custkey = o_custkey
             |JOIN lineitem ON l_orderkey = o_orderkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |  AND c_nationkey = s_nationkey
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'ASIA'
             |  AND o_orderdate >= TIMESTAMP '1996-01-01'
             |  AND o_orderdate < TIMESTAMP '1997-01-01'
             |GROUP BY n_name
             |ORDER BY revenue DESC, n_name ASC""".stripMargin)),

    // O1/O2 sort + LIMIT/OFFSET pagination — reference
    // `s3_rankings_collector.py:137-138`, `rankings_generator.py:125-127`.
    // Unique tiebreak o_orderkey makes the page deterministic (§7.5 #5).
    Q("q25_page_offset",
      (s, d) => orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .offset(100).limit(20)
        .select("o_orderkey", "o_custkey", "o_totalprice"),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey ASC
             |LIMIT 20 OFFSET 100""".stripMargin)),

    // O3 global head — reference `drivers/connection_test.py:26`
    // (LIMIT 10); ordered for determinism → TakeOrderedAndProject.
    Q("q26_limit_head",
      (s, d) => orders(s, d)
        .orderBy("o_orderkey")
        .limit(10)
        .select("o_orderkey", "o_orderstatus", "o_totalprice"),
      Some("""SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
             |ORDER BY o_orderkey LIMIT 10""".stripMargin)),

    // O6 resume-from-checkpoint skip — reference
    // `ranking_urls_generator.py:255-257` (`chunk_no > start_chunk_no`).
    Q("q27_resume_filter",
      (s, d) => events(s, d)
        .filter(col("event_id") > 9000L)
        .select("event_id", "user_id", "event_type")
        .orderBy("event_id"),
      Some("""SELECT event_id, user_id, event_type FROM events
             |WHERE event_id > 9000 ORDER BY event_id""".stripMargin)),

    // U1 UNION ALL shard concatenation — reference `ingest.py:45-49`
    // (3 folders into one table).
    Q("q28_union_all",
      (s, d) => {
        val o = orders(s, d)
        val hi = o.filter(col("o_totalprice") > 250000.0)
          .select(col("o_orderkey").as("k"), lit("hi").as("src"))
        val lo = o.filter(col("o_totalprice") < 5000.0)
          .select(col("o_orderkey").as("k"), lit("lo").as("src"))
        hi.unionByName(lo).orderBy("k", "src")
      },
      Some("""SELECT * FROM (
             |  SELECT o_orderkey AS k, 'hi' AS src FROM orders
             |  WHERE o_totalprice > 250000.0
             |  UNION ALL
             |  SELECT o_orderkey AS k, 'lo' AS src FROM orders
             |  WHERE o_totalprice < 5000.0)
             |ORDER BY k, src""".stripMargin)),

    // U2 EXCEPT — set form of the J2 anti-join (SURVEY.md §2.7).
    Q("q29_except",
      (s, d) => customer(s, d).select("c_custkey")
        .except(orders(s, d).select(col("o_custkey").as("c_custkey")))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey FROM customer
             |EXCEPT SELECT o_custkey AS c_custkey FROM orders
             |ORDER BY c_custkey""".stripMargin)),

    // A6 cube — all grouping-set combinations (rollup's sibling; OLAP
    // parity beyond the declared rollup).
    Q("q56_cube",
      (s, d) => lineitem(s, d)
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("cnt"))
        .orderBy("rf", "ls"),
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS rf,
             |       coalesce(l_linestatus, 'ALL') AS ls,
             |       CAST(count(*) AS BIGINT) AS cnt
             |FROM lineitem
             |GROUP BY CUBE(l_returnflag, l_linestatus)
             |ORDER BY rf, ls""".stripMargin)),

    // U2b INTERSECT — the set complement of q29's EXCEPT.
    Q("q57_intersect",
      (s, d) => customer(s, d).select("c_custkey")
        .intersect(orders(s, d).select(col("o_custkey").as("c_custkey")))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey FROM customer
             |INTERSECT SELECT o_custkey AS c_custkey FROM orders
             |ORDER BY c_custkey""".stripMargin)),

    // J7 full outer join — beyond the reference surface (SURVEY.md §2.3
    // "if needed later"); supplier and customer nation-key margins differ,
    // so both null sides appear.
    Q("q58_full_outer",
      (s, d) => {
        val su = supplier(s, d).groupBy("s_nationkey")
          .agg(count(lit(1)).as("n_supp"))
        val cu = customer(s, d).groupBy("c_nationkey")
          .agg(count(lit(1)).as("n_cust"))
        su.join(cu, col("s_nationkey") === col("c_nationkey"), "full")
          .select(
            coalesce(col("s_nationkey"), col("c_nationkey")).as("nationkey"),
            coalesce(col("n_supp"), lit(0L)).as("n_supp"),
            coalesce(col("n_cust"), lit(0L)).as("n_cust"))
          .orderBy("nationkey")
      },
      Some("""WITH su AS (SELECT s_nationkey, CAST(count(*) AS BIGINT)
             |              AS n_supp FROM supplier GROUP BY s_nationkey),
             |cu AS (SELECT c_nationkey, CAST(count(*) AS BIGINT)
             |         AS n_cust FROM customer GROUP BY c_nationkey)
             |SELECT coalesce(s_nationkey, c_nationkey) AS nationkey,
             |  coalesce(n_supp, 0) AS n_supp,
             |  coalesce(n_cust, 0) AS n_cust
             |FROM su FULL OUTER JOIN cu ON s_nationkey = c_nationkey
             |ORDER BY nationkey""".stripMargin)),

    // J8 cross join — small dims only (region × region distance matrix
    // shape); at scale a guarded operation by design.
    Q("q59_cross_join",
      (s, d) => region(s, d).select(col("r_name").as("a"))
        .crossJoin(region(s, d).select(col("r_name").as("b")))
        .orderBy("a", "b"),
      Some("""SELECT r1.r_name AS a, r2.r_name AS b
             |FROM region r1 CROSS JOIN region r2
             |ORDER BY a, b""".stripMargin)),

    // U2c EXCEPT ALL — multiset difference (duplicate-preserving): the
    // shard-reconciliation form ("which rows are in folder A more times
    // than in folder B"). lineitem keys repeat per line number, so the
    // multiset semantics are actually exercised.
    Q("q80_except_all",
      (s, d) => lineitem(s, d).select(col("l_orderkey").as("k"))
        .exceptAll(lineitem(s, d).filter(col("l_linenumber") > 1)
          .select(col("l_orderkey").as("k")))
        .groupBy("k").agg(count(lit(1)).as("cnt"))
        .orderBy("k"),
      Some("""SELECT k, CAST(count(*) AS BIGINT) AS cnt FROM (
             |  SELECT l_orderkey AS k FROM lineitem
             |  EXCEPT ALL
             |  SELECT l_orderkey AS k FROM lineitem WHERE l_linenumber > 1)
             |GROUP BY k ORDER BY k""".stripMargin)),

    // U2d INTERSECT ALL — multiset intersection, the complement of q80.
    Q("q81_intersect_all",
      (s, d) => lineitem(s, d).select(col("l_orderkey").as("k"))
        .intersectAll(lineitem(s, d).filter(col("l_linenumber") <= 2)
          .select(col("l_orderkey").as("k")))
        .groupBy("k").agg(count(lit(1)).as("cnt"))
        .orderBy("k"),
      Some("""SELECT k, CAST(count(*) AS BIGINT) AS cnt FROM (
             |  SELECT l_orderkey AS k FROM lineitem
             |  INTERSECT ALL
             |  SELECT l_orderkey AS k FROM lineitem WHERE l_linenumber <= 2)
             |GROUP BY k ORDER BY k""".stripMargin)),

    // A12 skew-salted two-phase aggregation (ops/Skew.saltedSumCount): the
    // 3-value l_returnflag key over the whole fact table is exactly the
    // hot-key shape — the salt spreads each group over 8 partial reducers
    // before the final merge. Result must equal the plain GROUP BY.
    Q("q82_salted_agg",
      (s, d) => {
        val salted = graft.ops.Skew.saltedSumCount(lineitem(s, d),
          col("l_returnflag"), col("l_quantity"), saltBuckets = 8,
          // row identity — narrow + high-cardinality, keeps pruning intact
          saltOn = Seq(col("l_orderkey"), col("l_linenumber")))
        salted.select(col("k").as("l_returnflag"),
          round(col("sum_v"), 2).as("sum_qty"), col("cnt"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
             |       CAST(count(*) AS BIGINT) AS cnt
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // J9 skew-salted fact⋈dim join (ops/Skew.saltedJoin): dim replicated
    // per salt bucket, fact salted deterministically — a hot custkey fans
    // out over 8 tasks. Must equal the unsalted join (q10's aggregate).
    Q("q83_salted_join",
      (s, d) => graft.ops.Skew.saltedJoin(
        orders(s, d), customer(s, d), "o_custkey", "c_custkey",
        saltBuckets = 8, saltOn = Seq(col("o_orderkey")))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("cnt"),
          Scalars.moneySum(col("o_totalprice")).as("revenue"))
        .orderBy("c_mktsegment"),
      Some(s"""SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS cnt,
             |       ${Scalars.moneySumSql("o_totalprice")} AS revenue
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // F12 integer div/mod chunking — reference `_chunkify`
    // (`ranking_urls_generator.py:54-55`) + offset arithmetic
    // (`rankings_generator.py:118`).
    // Global index WITHOUT a single-partition window (the round-1 shape —
    // `Window.orderBy` with no partitionBy — funnels the whole fact table
    // through one task; SCALE.md forbids it on the fact path), and WITHOUT
    // a full counting job at DataFrame-build time (the round-2 shape —
    // `rdd.zipWithIndex` ran count + shuffle-write inside `Q.build`, so
    // plan-only paths like the PlanSpec sweep executed real data jobs;
    // ADVICE r02). Instead: range-partition on the key, sort within
    // partitions, then branch TWICE from the same sorted RDD object —
    // one branch emits lazy per-partition counts, the other per-row
    // (pid, local index). Sharing one RDD instance matters for
    // correctness, not just cost: the range exchange's bounds are sampled
    // once and its map stage runs once, so both branches see identical
    // partitioning by construction (no reliance on ReuseExchange).
    // Cumulative offsets come from a non-equi self-join of the tiny
    // (numPartitions-row) counts table — no window, no collect — and are
    // broadcast back onto the fact rows. Every stage stays parallel at
    // any table size. Residual build-time cost: `.rdd` still constructs
    // the RangePartitioner, which runs its bounds-SAMPLING job (a pruned
    // single-column scan, no shuffle write) — documented eager cost, two
    // orders cheaper than the zipWithIndex count-the-world job.
    Q("q33_chunkify",
      (s, d) => {
        val sortedRdd = orders(s, d).select(col("o_orderkey"))
          .repartitionByRange(col("o_orderkey"))
          .sortWithinPartitions("o_orderkey")
          .rdd // builds the RDD DAG; eager part = bounds sampling only
        val counts = s.createDataFrame(
          sortedRdd.mapPartitionsWithIndex { (pid, it) =>
            Iterator.single((pid, it.size.toLong))
          }).toDF("pid", "cnt")
        // offset(pid) = sum of counts of all earlier partitions; O(P^2)
        // on a P~=shuffle.partitions-row table — trivial at any scale.
        val offsets = counts.as("a")
          .join(counts.as("b"), col("b.pid") < col("a.pid"), "left")
          .groupBy(col("a.pid").as("pid"))
          .agg(coalesce(sum(col("b.cnt")), lit(0L)).as("offset"))
        val local = s.createDataFrame(
          sortedRdd.mapPartitionsWithIndex { (pid, it) =>
            var i = -1L
            // getAs[Number] decouples from the parquet physical type
            // (INT32 vs INT64 o_orderkey both work; ADVICE r02)
            it.map { r => i += 1; (pid, i, r.getAs[Number](0).longValue) }
          }).toDF("pid", "local_idx", "o_orderkey")
        local.join(broadcast(offsets), "pid")
          .withColumn("chunk",
            graft.ops.Scalars.longDiv("(offset + local_idx)", 1000L))
          .groupBy("chunk")
          .agg(count(lit(1)).as("cnt"),
            min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
          .orderBy("chunk")
      },
      Some("""SELECT chunk, CAST(count(*) AS BIGINT) AS cnt,
             |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
             |FROM (SELECT o_orderkey,
             |        CAST((row_number() OVER (ORDER BY o_orderkey) - 1) // 1000
             |             AS BIGINT) AS chunk
             |      FROM orders)
             |GROUP BY chunk ORDER BY chunk""".stripMargin)),

    // X22 z-order clustered scan: a 2-dim box predicate ((l_partkey,
    // l_suppkey) tile) against lineitem rewritten in Morton order
    // (ops/ZOrder). The layout makes per-file/per-row-group min/max tight
    // on BOTH filter columns, so the pushed predicates skip everything
    // outside the box's z-tiles — multi-dim pruning without exploding the
    // partition-directory count (SCALE.md §layouts). Results are
    // layout-independent, so the oracle runs the same box on the plain
    // table; ZOrderSpec measures the pruning itself (files containing
    // matches: z ≪ unclustered).
    Q("q104_zorder_box",
      (s, d) => s.read.parquet(graft.ops.ZOrder.zLineitemPath(s, d))
        .filter(col("l_partkey").between(500, 599) &&
          col("l_suppkey").between(20, 39))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum("l_quantity").as("sum_qty"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
             |       sum(l_quantity) AS sum_qty
             |FROM lineitem
             |WHERE l_partkey BETWEEN 500 AND 599
             |  AND l_suppkey BETWEEN 20 AND 39
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // S9-at-scale / X28 point lookup through the bloom-filter layout
    // (ops/ParquetBloom.bloomOrdersPath): orders physically sorted by
    // o_orderkey, probed by o_custkey — the one-sort-order reality where
    // min/max stats cannot skip and per-row-group blooms can. Result is
    // layout-independent (q104's oracle pattern: same predicate on the
    // plain table); ParquetBloomSpec measures the skipping itself (8/8
    // row groups stats-only vs 0/8 bloomed for an absent key).
    Q("q114_bloom_lookup",
      (s, d) => s.read.parquet(graft.ops.ParquetBloom.bloomOrdersPath(s, d))
        .filter(col("o_custkey") === 42)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |WHERE o_custkey = 42 ORDER BY o_orderkey""".stripMargin)),

    // J14 null-skew-safe LEFT OUTER join — the production fix for the
    // most common real-world join skew: a nullable foreign key (here a
    // synthesized "guest checkout": every 7th order carries no customer)
    // where EVERY null row hashes to ONE reducer in a plain shuffled
    // outer join. The null-split rewrite routes null-keyed rows AROUND
    // the join entirely (they can never match — append them with null
    // dim columns) and shuffles only non-null keys; results are
    // IDENTICAL to the naive join, which is exactly what the oracle
    // replays (a plain LEFT JOIN on the same CASE key). At 100 TB a 10 %
    // null rate is a guaranteed single-task straggler without this; AQE
    // skew-split mitigates but still shuffles the null tuples. Money
    // sums via the exact-decimal moneySum contract; null segment keyed
    // '(none)' so cross-engine NULL ordering never enters the sort.
    Q("q186_null_skew_join",
      (s, d) => {
        val o = orders(s, d).select(col("o_orderkey"), col("o_totalprice"),
          when(col("o_custkey") % 7 === 0, lit(null))
            .otherwise(col("o_custkey")).as("cust_k"))
        val c = customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
        val matched = o.filter(col("cust_k").isNotNull)
          .join(c, col("cust_k") === col("c_custkey"), "left")
          .select(col("o_totalprice"), col("c_mktsegment"))
        val bypass = o.filter(col("cust_k").isNull)
          .select(col("o_totalprice"),
            lit(null).cast("string").as("c_mktsegment"))
        matched.unionByName(bypass)
          .groupBy(coalesce(col("c_mktsegment"), lit("(none)"))
            .as("segment"))
          .agg(count(lit(1)).as("n_orders"),
            Scalars.moneySum(col("o_totalprice")).as("revenue"))
          .orderBy("segment")
      },
      Some(s"""WITH o AS (
              |  SELECT o_orderkey, o_totalprice,
              |    CASE WHEN o_custkey % 7 = 0 THEN NULL
              |         ELSE o_custkey END AS cust_k
              |  FROM orders)
              |SELECT coalesce(c.c_mktsegment, '(none)') AS segment,
              |  CAST(count(*) AS BIGINT) AS n_orders,
              |  ${Scalars.moneySumSql("o.o_totalprice")} AS revenue
              |FROM o LEFT JOIN customer c ON c.c_custkey = o.cust_k
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // S10 external JDBC dimension source, driver-visible: the topics
    // work-list read every reference pipeline starts from
    // (s3_rankings_collector.py:129-142, rankings_generator.py:117-129 —
    // asyncpg/SQLAlchemy over Postgres `topics_to_schedule`), realized as
    // REAL `spark.read.jdbc` against embedded Derby seeded
    // deterministically from the nation parquet (sources/JdbcSource
    // .topicsDbFromNation), so the DuckDB oracle derives the identical
    // topic rows from the same parquet with the same key arithmetic —
    // full rows+schema+hash gate on the jdbc path, not just a unit test.
    // The read exercises BOTH jdbc scale levers: the range-partitioned
    // parallel scan (one BETWEEN query per partition — the distributed
    // replacement for the reference's LIMIT/OFFSET paging) and predicate
    // pushdown (the status/tracked/freshness filters ship INTO the
    // database as SQL — PlanSpec pins PushedFilters on the JDBC scan).
    // Scale shape: a topics table is dimension-sized, so numPartitions
    // stays small (each partition = one DB connection; hundreds would
    // dos the database) and the result rides a broadcast into the
    // customer fact agg — the fact side never shuffles on the dim key.
    // LOCAL-MODE-ONLY SEED (ADVICE r11): the embedded-Derby URL points
    // at the driver's filesystem, readable by executors only because
    // local[*] shares the JVM. On a real cluster this pattern needs a
    // network-reachable URL (client/server Postgres — the reference's
    // actual topology); the READ path (readPartitioned + pushdown) is
    // the part that transfers unchanged. Don't copy the Derby seam
    // into a multi-JVM deployment.
    Q("q188_jdbc_topics",
      (s, d) => {
        val conn = graft.sources.JdbcSource.topicsDbFromNation(s, d)
        val topics = graft.sources.JdbcSource.readPartitioned(
            s, conn, "topics_to_schedule",
            partitionColumn = "id", lowerBound = 0L, upperBound = 25L,
            numPartitions = 4)
          .filter(col("status") === "processed" && col("tracked") &&
            col("last_update_timestamp") > 2003L)
          // Derby uppercases unqualified identifiers; re-alias so output
          // column names match the oracle's lowercase (§7.5 alias rule)
          .select(col("id").cast("long").as("id"), col("topic").as("topic"))
        customer(s, d)
          .join(broadcast(topics), col("c_nationkey") === col("id"))
          .groupBy(col("topic"))
          .agg(count(lit(1)).as("n_cust"),
            Scalars.moneySum(col("c_acctbal")).as("acct_total"))
          .orderBy("topic")
      },
      Some(s"""WITH topics AS (
              |  SELECT n_nationkey AS id, n_name AS topic FROM nation
              |  WHERE (n_nationkey % 4) <> 0   -- status = 'processed'
              |    AND (n_nationkey % 5) <> 0   -- tracked
              |    AND (2000 + n_nationkey) > 2003),
              |c AS (SELECT c_nationkey, c_acctbal FROM customer)
              |SELECT t.topic, CAST(count(*) AS BIGINT) AS n_cust,
              |  ${Scalars.moneySumSql("c.c_acctbal")} AS acct_total
              |FROM c JOIN topics t ON t.id = c.c_nationkey
              |GROUP BY t.topic ORDER BY t.topic""".stripMargin))
  )
}
