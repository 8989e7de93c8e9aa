package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Scalars

/** Scalar functions, windows, reshaping, dates, arrays, JSON —
  * SURVEY.md §2.5, 2.8, 2.9, plus the batch form of §2.10 T8.
  *
  * The testdata has no URL/domain columns, so the URL-shaped queries
  * construct deterministic URLs from TPC-H columns *identically in Spark and
  * the DuckDB oracle*, then apply the operator under test (the construction
  * is shared scaffolding; the parity claim is about the operator). All
  * expressions stay inside whole-stage codegen — no UDFs (SURVEY.md §2.11).
  */
object QueriesScalar {
  import Tables._

  /** Deterministic URL built from part: mixes scheme case and www/no-www so
    * urlBone/urlPrefix hit every branch of the reference logic
    * (`rankings_generator.py:132-139`).
    */
  private def urlCol = concat(
    when(pmod(col("p_partkey"), lit(3)) === 0, lit("HTTPS://www."))
      .when(pmod(col("p_partkey"), lit(3)) === 1, lit("http://"))
      .otherwise(lit("https://")),
    lit("example-"), lower(regexp_replace(col("p_brand"), "#", "")),
    lit(".com/"), regexp_replace(col("p_type"), " ", "-"), lit("/"))

  private val urlSql =
    """(CASE WHEN p_partkey % 3 = 0 THEN 'HTTPS://www.'
      |      WHEN p_partkey % 3 = 1 THEN 'http://'
      |      ELSE 'https://' END ||
      | 'example-' || lower(regexp_replace(p_brand, '#', '')) ||
      | '.com/' || regexp_replace(p_type, ' ', '-') || '/')""".stripMargin

  /** Deterministic fqdn built from supplier: mixes www./shop./bare prefixes
    * for the domain-parse query (`ranking_urls_generator.py:150-154`).
    */
  private def fqdnCol = concat(
    when(pmod(col("s_suppkey"), lit(3)) === 0, lit("www."))
      .when(pmod(col("s_suppkey"), lit(3)) === 1, lit("shop.data."))
      .otherwise(lit("")),
    lit("supplier"), col("s_suppkey").cast("string"), lit(".example.com"))

  private val fqdnSql =
    """(CASE WHEN s_suppkey % 3 = 0 THEN 'www.'
      |      WHEN s_suppkey % 3 = 1 THEN 'shop.data.'
      |      ELSE '' END ||
      | 'supplier' || CAST(s_suppkey AS VARCHAR) || '.example.com')""".stripMargin

  /** fqdn mix for the FULL-PSL parse (q19b): one case per rule class —
    * exact 1- and 2-label suffixes (com, co.uk), wildcard (`*.ck`,
    * `*.kawasaki.jp`), exception (`!www.ck`, `!city.kawasaki.jp`), a name
    * a wildcard swallows whole (→ ''), an unlisted TLD (tldextract
    * semantics: `localhost` is a domain, not a suffix), and a
    * private-section name (ICANN-only parse → `github.io`).
    */
  private def pslFqdnCol = {
    val k = col("s_suppkey").cast("string")
    val m = pmod(col("s_suppkey"), lit(9))
    when(m === 0, concat(lit("supplier"), k, lit(".example.com")))
      .when(m === 1, concat(lit("shop.supplier"), k, lit(".example.co.uk")))
      .when(m === 2, concat(lit("a"), k, lit(".web.ck")))
      .when(m === 3, concat(lit("sub"), k, lit(".www.ck")))
      .when(m === 4, concat(lit("x"), k, lit(".aki.kawasaki.jp")))
      .when(m === 5, concat(lit("w"), k, lit(".city.kawasaki.jp")))
      .when(m === 6, concat(lit("sup"), k, lit(".localhost")))
      .when(m === 7, concat(lit("r"), k, lit(".github.io")))
      .otherwise(concat(lit("c"), k, lit(".ck")))
  }

  /** Absolute path of the vendored PSL rule table for the q19b oracle,
    * resolved at runtime instead of hardcoded: walk up from `user.dir`
    * (sbt runs mains from the project root, but a driver sandbox may
    * differ) until `tools/psl_rules_icann.csv` is found. Falls back to the
    * user.dir-relative path so the SQL still constructs — DuckDB then
    * reports a clear missing-file error instead of a silent wrong root.
    */
  private lazy val pslRulesPath: String = {
    val rel = java.nio.file.Paths.get("tools", "psl_rules_icann.csv")
    Iterator.iterate(java.nio.file.Paths.get(sys.props("user.dir"))
        .toAbsolutePath)(_.getParent)
      .takeWhile(_ != null)
      .map(_.resolve(rel))
      .find(java.nio.file.Files.exists(_))
      .getOrElse(rel.toAbsolutePath)
      .toString
  }

  private val pslFqdnSql =
    """(CASE s_suppkey % 9
      |  WHEN 0 THEN 'supplier' || CAST(s_suppkey AS VARCHAR) || '.example.com'
      |  WHEN 1 THEN 'shop.supplier' || CAST(s_suppkey AS VARCHAR) || '.example.co.uk'
      |  WHEN 2 THEN 'a' || CAST(s_suppkey AS VARCHAR) || '.web.ck'
      |  WHEN 3 THEN 'sub' || CAST(s_suppkey AS VARCHAR) || '.www.ck'
      |  WHEN 4 THEN 'x' || CAST(s_suppkey AS VARCHAR) || '.aki.kawasaki.jp'
      |  WHEN 5 THEN 'w' || CAST(s_suppkey AS VARCHAR) || '.city.kawasaki.jp'
      |  WHEN 6 THEN 'sup' || CAST(s_suppkey AS VARCHAR) || '.localhost'
      |  WHEN 7 THEN 'r' || CAST(s_suppkey AS VARCHAR) || '.github.io'
      |  ELSE 'c' || CAST(s_suppkey AS VARCHAR) || '.ck' END)""".stripMargin

  val all: Seq[Q] = Seq(

    // F1/F4/P7 URL-bone normalization — reference `get_url_bone`
    // (`rankings_generator.py:132-139`): strip scheme (case-insensitive),
    // `www.`, trailing slash.
    Q("q16_url_bone",
      (s, d) => part(s, d)
        .select(col("p_partkey"), urlCol.as("url"))
        .withColumn("url_bone", Scalars.urlBone(col("url")))
        .orderBy("p_partkey"),
      Some(s"""SELECT p_partkey, $urlSql AS url,
              |  regexp_replace(regexp_replace($urlSql,
              |    '(?i)^https?://(www\\.)?', ''), '/$$', '') AS url_bone
              |FROM part ORDER BY p_partkey""".stripMargin)),

    // F2/P2 regex prefix extract then drop source col — reference
    // `ranking_urls_ingestor.py:57-59`. Uppercase schemes intentionally
    // don't match (the reference regex is case-sensitive) → ''.
    Q("q17_regex_extract",
      (s, d) => part(s, d)
        .select(col("p_partkey"), urlCol.as("url"))
        .withColumn("url_prefix", Scalars.urlPrefix(col("url")))
        .drop("url")
        .orderBy("p_partkey"),
      Some(s"""SELECT p_partkey,
              |  coalesce(regexp_extract($urlSql,
              |    '(https?://(?:www\\.)?)', 1), '') AS url_prefix
              |FROM part ORDER BY p_partkey""".stripMargin)),

    // F5 split + positional pick — reference S3-key parse
    // `s3_key.split("_")[0]` / `[-1]` (`ranking_urls_generator.py:217-218`).
    Q("q18_parse_key_fields",
      (s, d) => orders(s, d)
        .select(col("o_orderkey"),
          concat_ws("_", col("o_orderpriority"), col("o_orderstatus"),
            col("o_orderkey").cast("string")).as("key"))
        .withColumn("term", element_at(split(col("key"), "_"), 1))
        .withColumn("ts_part", element_at(split(col("key"), "_"), -1))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
             |  (o_orderpriority || '_' || o_orderstatus || '_' ||
             |   CAST(o_orderkey AS VARCHAR)) AS key,
             |  (str_split(o_orderpriority || '_' || o_orderstatus || '_' ||
             |   CAST(o_orderkey AS VARCHAR), '_'))[1] AS term,
             |  (str_split(o_orderpriority || '_' || o_orderstatus || '_' ||
             |   CAST(o_orderkey AS VARCHAR), '_'))[-1] AS ts_part
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // F3/F6 domain parse (simplified last-two-labels rule; full PSL parity
    // is q19b — SURVEY.md §7.5 #2). `www.` stripped first, subdomain
    // NULL when empty (`rankings_generator.py:165-167`).
    Q("q19_domain_parse",
      (s, d) => supplier(s, d)
        .select(col("s_suppkey"), fqdnCol.as("fqdn"))
        .withColumn("domain", regexp_replace(col("fqdn"), "^www\\.", ""))
        .withColumn("root_domain", Scalars.registeredDomain(col("domain")))
        .withColumn("subdomain", Scalars.subdomain(col("domain")))
        .drop("fqdn")
        .orderBy("s_suppkey"),
      Some(s"""WITH base AS (
              |  SELECT s_suppkey,
              |    regexp_replace($fqdnSql, '^www\\.', '') AS domain
              |  FROM supplier),
              |parsed AS (
              |  SELECT s_suppkey, domain,
              |    regexp_extract(domain, '([^.]+\\.[^.]+)$$', 1) AS root_domain
              |  FROM base)
              |SELECT s_suppkey, domain, root_domain,
              |  CASE WHEN length(domain) - length(root_domain) > 1
              |       THEN substring(domain, 1,
              |            length(domain) - length(root_domain) - 1)
              |       ELSE NULL END AS subdomain
              |FROM parsed ORDER BY s_suppkey""".stripMargin)),

    // F3 FULL-fidelity PSL domain parse (VERDICT r03 #3) through the
    // native codegen Catalyst expression (ops/DomainParseExpression) —
    // no ScalaUDF in the plan (PlanSpec gate). The oracle replays the
    // generic PSL longest-match algorithm (exception > longest of
    // exact/wildcard) in SQL over the rule table dumped from the SAME
    // vendored list (tools/psl_rules_icann.csv, tools/dump_psl_rules.py) —
    // so Scala parser drift and SQL drift both fail the hash compare.
    // Matches tldextract (`rankings_generator.py:165-167`) incl. wildcard
    // and exception rules, which q19's simplified 2-label rule cannot.
    Q("q19b_domain_parse_psl",
      (s, d) => supplier(s, d)
        .select(col("s_suppkey"), pslFqdnCol.as("fqdn"))
        .withColumn("root_domain", Scalars.registeredDomainPsl(col("fqdn")))
        .orderBy("s_suppkey"),
      Some(s"""WITH rules AS (
              |  SELECT kind, rule FROM read_csv(
              |    '$pslRulesPath', header=true)
              |),
              |base AS (SELECT s_suppkey, $pslFqdnSql AS fqdn FROM supplier),
              |lab AS (SELECT s_suppkey, fqdn, str_split(fqdn, '.') AS labels,
              |        CAST(len(str_split(fqdn, '.')) AS INT) AS n FROM base),
              |pos AS (SELECT s_suppkey, fqdn, labels, n,
              |        CAST(unnest(generate_series(1, n)) AS INT) AS i
              |        FROM lab),
              |cand AS (
              |  SELECT s_suppkey, fqdn, n, i,
              |    array_to_string(labels[i:], '.') AS cand,
              |    CASE WHEN i < n
              |         THEN array_to_string(labels[i+1:], '.') END AS parent
              |  FROM pos),
              |scored AS (
              |  SELECT c.s_suppkey, c.fqdn, c.n,
              |    min(CASE WHEN ex.rule IS NOT NULL THEN c.n - c.i END)
              |      AS exc_len,
              |    max(CASE WHEN ea.rule IS NOT NULL OR wc.rule IS NOT NULL
              |             THEN c.n - c.i + 1 END) AS match_len
              |  FROM cand c
              |  LEFT JOIN rules ex ON ex.kind = 'exception' AND ex.rule = c.cand
              |  LEFT JOIN rules ea ON ea.kind = 'exact' AND ea.rule = c.cand
              |  LEFT JOIN rules wc ON wc.kind = 'wildcard' AND wc.rule = c.parent
              |  GROUP BY c.s_suppkey, c.fqdn, c.n),
              |fin AS (SELECT s_suppkey, fqdn, n,
              |               COALESCE(exc_len, match_len, 0) AS slen,
              |               str_split(fqdn, '.') AS labels
              |        FROM scored)
              |SELECT s_suppkey, fqdn,
              |  CASE WHEN n = slen THEN ''
              |       WHEN slen = 0 THEN labels[n]
              |       ELSE labels[n - slen] || '.' ||
              |            array_to_string(labels[n-slen+1:], '.')
              |  END AS root_domain
              |FROM fin ORDER BY s_suppkey""".stripMargin)),

    // P6/F16 higher-order array filter — reference nested index-entry
    // filter (`s3_rankings_collector.py:87`), as filter(col, λ) on words.
    Q("q20_array_filter_hof",
      (s, d) => documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("words"))
        .select(col("doc_id"),
          size(col("words")).as("n_words"),
          size(filter(col("words"), w => length(w) > 4)).as("n_long"),
          array_join(slice(filter(col("words"), w => length(w) > 4), 1, 3), ",")
            .as("first_long"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CAST(len(str_split(text, ' ')) AS INT) AS n_words,
             |  CAST(len(list_filter(str_split(text, ' '),
             |      w -> length(w) > 4)) AS INT) AS n_long,
             |  array_to_string(list_filter(str_split(text, ' '),
             |      w -> length(w) > 4)[1:3], ',') AS first_long
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // W1/O4 per-group top-k — reference per-topic top-3
    // (`s3_rankings_collector.py:88`) via row_number ≤ 3.
    Q("q21_topk_per_group",
      (s, d) => {
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        orders(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select("o_orderpriority", "rn", "o_orderkey", "o_totalprice")
          .orderBy("o_orderpriority", "rn")
      },
      Some("""SELECT o_orderpriority, CAST(rn AS INT) AS rn, o_orderkey,
             |       o_totalprice FROM (
             |  SELECT o_orderpriority, o_orderkey, o_totalprice,
             |    row_number() OVER (PARTITION BY o_orderpriority
             |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
             |  FROM orders)
             |WHERE rn <= 3 ORDER BY o_orderpriority, rn""".stripMargin)),

    // W2 dense_rank — SERP-position analytics shape (SURVEY.md §2.5).
    // Rank on a bucketed measure so ties exist and dense semantics matter;
    // deterministic because rank is a function of the bucket value.
    Q("q22_dense_rank",
      (s, d) => {
        val bucket = floor(col("c_acctbal") / 1000).cast("long")
        val w = Window.partitionBy("c_mktsegment")
          .orderBy(col("bal_bucket").desc)
        customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment"),
            bucket.as("bal_bucket"))
          .withColumn("dr", dense_rank().over(w))
          .orderBy(col("c_mktsegment"), col("dr"), col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_mktsegment,
             |  CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
             |  CAST(dense_rank() OVER (PARTITION BY c_mktsegment
             |    ORDER BY CAST(floor(c_acctbal / 1000) AS BIGINT) DESC) AS INT)
             |    AS dr
             |FROM customer
             |ORDER BY c_mktsegment, dr, c_custkey""".stripMargin)),

    // W3/A7 running total — reference incremental counters
    // (`concurrently.py:20`), as a frame-spec window sum. The window's key
    // prefixes the final ORDER BY, so one range exchange on o_custkey
    // clusters the window AND orders the output: the final sort needs no
    // second shuffle, whose range sample would run the Window stage again.
    Q("q23_running_total",
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_date").asc, col("o_orderkey").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        orders(s, d)
          .select(col("o_custkey"), col("o_orderkey"),
            col("o_orderdate").cast("date").as("o_date"),
            col("o_totalprice"))
          .repartitionByRange(col("o_custkey"))
          .withColumn("running_total",
            round(sum("o_totalprice").over(w), 2))
          .orderBy("o_custkey", "o_date", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_date,
             |  o_totalprice,
             |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             |    ORDER BY o_orderdate ASC, o_orderkey ASC
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
             |    AS running_total
             |FROM orders ORDER BY o_custkey, o_date, o_orderkey""".stripMargin)),

    // W4 lag/rank-delta — rank movement between dates, the point of a
    // rankings time-series (SURVEY.md §2.5 W4).
    Q("q24_rank_delta",
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_date").asc, col("o_orderkey").asc)
        orders(s, d)
          .select(col("o_custkey"), col("o_orderkey"),
            col("o_orderdate").cast("date").as("o_date"),
            col("o_totalprice"))
          .withColumn("delta",
            round(col("o_totalprice") - lag("o_totalprice", 1).over(w), 2))
          .orderBy("o_custkey", "o_date", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_date,
             |  o_totalprice,
             |  round(o_totalprice - lag(o_totalprice, 1) OVER (
             |    PARTITION BY o_custkey
             |    ORDER BY o_orderdate ASC, o_orderkey ASC), 2) AS delta
             |FROM orders ORDER BY o_custkey, o_date, o_orderkey""".stripMargin)),

    // F7/F8 epoch → date string — reference `rankings_generator.py:155`.
    // ts is epoch-nanos (LongType); integer division only (Tables.events).
    Q("q30_epoch_to_date",
      (s, d) => events(s, d)
        .select(Scalars.longDiv("ts", 1000000000L).as("epoch_sec"),
          col("value"))
        .select(Scalars.epochToDateStr(col("epoch_sec")).as("day_str"),
          col("value"))
        .groupBy("day_str")
        .agg(count(lit(1)).as("cnt"),
          Scalars.moneySum(col("value")).as("sum_value"))
        .orderBy("day_str"),
      Some("""SELECT strftime(make_timestamp(
             |    (epoch_ns(ts) // 1000000000) * 1000000), '%Y-%m-%d')
             |    AS day_str,
             |  CAST(count(*) AS BIGINT) AS cnt,
             |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY day_str ORDER BY day_str""".stripMargin)),

    // F9 relative-date window with fixed anchor — reference pins
    // `ts = 1678887190` (`rankings_generator.py:120`); we pin 1997-06-01,
    // lookback 90 days (`s3_rankings_collector.py:36`).
    Q("q31_date_window",
      (s, d) => {
        val anchor = lit("1997-06-01").cast("date")
        lineitem(s, d)
          .filter(col("l_shipdate") >= date_sub(anchor, 90).cast("timestamp") &&
            col("l_shipdate") < anchor.cast("timestamp"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 2).as("qty"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS cnt,
             |  round(sum(l_quantity), 2) AS qty
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1997-03-03'
             |  AND l_shipdate < TIMESTAMP '1997-06-01'
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // F10/F11 round(x, n) + int truncation — reference
    // `rankings_generator.py:170-177`. Spark cast(double AS long) truncates
    // like Python int(); DuckDB CAST rounds, so the oracle uses floor()
    // (positive values only here). Row-level product rounding uses the
    // cross-engine-exact Scalars.round2 (see its scaladoc).
    Q("q32_round",
      (s, d) => lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          Scalars.round2(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("disc_price"),
          Scalars.round2(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
            (lit(1.0) + col("l_tax"))).as("charge"),
          round(col("l_discount") * 100, 0).as("disc_pct"),
          col("l_extendedprice").cast("long").as("price_int"))
        // (l_orderkey, l_linenumber) is not unique in the testdata: total
        // order over the whole output tuple (remaining ties = identical
        // rows, invisible to the compare)
        .orderBy("l_orderkey", "l_linenumber", "disc_price", "charge",
          "disc_pct", "price_int"),
      Some(s"""SELECT l_orderkey, l_linenumber,
              |  ${Scalars.round2Sql("l_extendedprice * (1.0 - l_discount)")}
              |    AS disc_price,
              |  ${Scalars.round2Sql(
                   "l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")}
              |    AS charge,
              |  round(l_discount * 100, 0) AS disc_pct,
              |  CAST(floor(l_extendedprice) AS BIGINT) AS price_int
              |FROM lineitem
              |ORDER BY l_orderkey, l_linenumber, disc_price, charge,
              |         disc_pct, price_int""".stripMargin)),

    // F13 Python-list-string → array — reference `ast.literal_eval`
    // (`ranking_urls_ingestor.py:60-61`). Declared query uses the
    // codegen-friendly split parse (valid under the reference's quote-free
    // data contract); the general from_json form is Scalars.parsePyList,
    // unit-tested. fanOut: per-row parse dominates the 2-column scan.
    Q("q34_parse_array",
      // r16: the list payload is a pure function of (l_returnflag,
      // l_linestatus) — a 6-value domain — so contract FIRST (one
      // map-side-combinable corpus agg) and parse once per distinct
      // payload, multiplying counts back (the q119 dedup-before-
      // expensive-op rule; guide §1.2 "don't compute things twice").
      // The fanOut repartition of 600k concatenated strings is gone with
      // the per-row parse. Output identical: the (arr_str, n) re-agg sums
      // the combo counts.
      (s, d) => lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"))
        .select(concat(lit("['"), col("l_returnflag"), lit("', '"),
          col("l_linestatus"), lit("']")).as("s"), col("cnt"))
        .select(Scalars.parsePyListFast(col("s")).as("arr"), col("cnt"))
        .select(array_join(col("arr"), "|").as("arr_str"),
          size(col("arr")).as("n"), col("cnt"))
        .groupBy("arr_str", "n").agg(sum("cnt").as("cnt"))
        .orderBy("arr_str"),
      Some("""WITH js AS (
             |  SELECT replace('[''' || l_returnflag || ''', ''' ||
             |    l_linestatus || ''']', '''', '"')::JSON AS j
             |  FROM lineitem)
             |SELECT (json_extract_string(j, '$[0]') || '|' ||
             |        json_extract_string(j, '$[1]')) AS arr_str,
             |  CAST(json_array_length(j) AS INT) AS n,
             |  CAST(count(*) AS BIGINT) AS cnt
             |FROM js GROUP BY 1, 2 ORDER BY arr_str""".stripMargin)),

    // F14/R1 explode (one payload → N rows) — reference
    // `rankings_to_clickhouse_schema` loop (`rankings_generator.py:142-200`).
    Q("q35_explode",
      (s, d) => fanOut(documents(s, d))
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word").asc)
        .limit(100),
      Some("""SELECT word, CAST(count(*) AS BIGINT) AS cnt
             |FROM (SELECT unnest(str_split(text, ' ')) AS word
             |      FROM documents)
             |GROUP BY word ORDER BY cnt DESC, word ASC
             |LIMIT 100""".stripMargin)),

    // F15 array membership/size — SERP-feature analytics shape
    // (`rankings_generator.py:36-57`).
    Q("q36_array_contains",
      (s, d) => documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("words"))
        .filter(array_contains(col("words"), "spark"))
        .select(col("doc_id"), size(col("words")).as("n_words"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, CAST(len(str_split(text, ' ')) AS INT) AS n_words
             |FROM documents
             |WHERE list_contains(str_split(text, ' '), 'spark')
             |ORDER BY doc_id""".stripMargin)),

    // F17 JSON field access — reference `json_data[0]` / `.get("position")`
    // (`ranking_urls_generator.py:216-220`), on the events.props JSON col.
    Q("q37_json_fields",
      (s, d) => events(s, d)
        .select(get_json_object(col("props"), "$.k").cast("int").as("k"),
          col("value"))
        .groupBy("k")
        .agg(count(lit(1)).as("cnt"),
          Scalars.moneySum(col("value")).as("sum_value"))
        .orderBy("k"),
      Some("""SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k,
             |  CAST(count(*) AS BIGINT) AS cnt,
             |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY k ORDER BY k""".stripMargin)),

    // R2 wide per-row derivation — the reference's 16-col derive block
    // (`rankings_generator.py:142-200`) as one fused wide select.
    Q("q38_wide_derive",
      (s, d) => lineitem(s, d)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          Scalars.round2(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("disc_price"),
          Scalars.round2(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
            (lit(1.0) + col("l_tax"))).as("charge"),
          when(col("l_quantity") >= 30, lit("high")).otherwise(lit("low"))
            .as("qty_class"),
          year(col("l_shipdate")).as("ship_year"),
          month(col("l_shipdate")).as("ship_month"),
          concat_ws("/", col("l_returnflag"), col("l_linestatus"))
            .as("flag_status"),
          (col("l_extendedprice") < 2000.0).as("is_cheap"),
          Scalars.round2(col("l_extendedprice") * col("l_discount"))
            .as("disc_amt"),
          pmod(col("l_orderkey"), lit(7)).as("key_mod"))
        // non-unique (l_orderkey, l_linenumber): total order over the full
        // output tuple (see q01/q32)
        .orderBy("l_orderkey", "l_linenumber", "disc_price", "charge",
          "qty_class", "ship_year", "ship_month", "flag_status", "is_cheap",
          "disc_amt", "key_mod"),
      Some(s"""SELECT l_orderkey, l_linenumber,
              |  ${Scalars.round2Sql("l_extendedprice * (1.0 - l_discount)")}
              |    AS disc_price,
              |  ${Scalars.round2Sql(
                   "l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")}
              |    AS charge,
              |  CASE WHEN l_quantity >= 30 THEN 'high' ELSE 'low' END
              |    AS qty_class,
              |  CAST(year(l_shipdate) AS INT) AS ship_year,
              |  CAST(month(l_shipdate) AS INT) AS ship_month,
              |  (l_returnflag || '/' || l_linestatus) AS flag_status,
              |  (l_extendedprice < 2000.0) AS is_cheap,
              |  ${Scalars.round2Sql("l_extendedprice * l_discount")} AS disc_amt,
              |  (l_orderkey % 7) AS key_mod
              |FROM lineitem
              |ORDER BY l_orderkey, l_linenumber, disc_price, charge,
              |         qty_class, ship_year, ship_month, flag_status,
              |         is_cheap, disc_amt, key_mod""".stripMargin)),

    // Sessionization (gap 30 min), in batch: lag-gap flag → running
    // sum = session id → per-session aggregate. Two shuffles total (window by
    // user, then group), both on user_id — at scale one exchange since the
    // partitioning is reused.
    Q("q55_sessionize",
      (s, d) => {
        val byUser = Window.partitionBy("user_id")
          .orderBy(col("sec").asc, col("event_id").asc)
        val cum = Window.partitionBy("user_id")
          .orderBy(col("sec").asc, col("event_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        events(s, d)
          .select(col("user_id"), col("event_id"),
            Scalars.longDiv("ts", 1000000000L).as("sec"))
          .withColumn("prev", lag("sec", 1).over(byUser))
          .withColumn("new_sess",
            when(col("prev").isNull || col("sec") - col("prev") > 1800L, 1L)
              .otherwise(0L))
          .withColumn("session_no", sum("new_sess").over(cum))
          .groupBy("user_id", "session_no")
          .agg(count(lit(1)).as("n_events"),
            min("sec").as("start_sec"), max("sec").as("end_sec"))
          .orderBy("user_id", "session_no")
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_id,
             |    epoch_ns(ts) // 1000000000 AS sec
             |  FROM events),
             |flagged AS (
             |  SELECT user_id, event_id, sec,
             |    CASE WHEN lag(sec, 1) OVER (PARTITION BY user_id
             |           ORDER BY sec ASC, event_id ASC) IS NULL
             |         OR sec - lag(sec, 1) OVER (PARTITION BY user_id
             |           ORDER BY sec ASC, event_id ASC) > 1800
             |         THEN 1 ELSE 0 END AS new_sess
             |  FROM e),
             |sessions AS (
             |  SELECT user_id, sec,
             |    CAST(sum(new_sess) OVER (PARTITION BY user_id
             |      ORDER BY sec ASC, event_id ASC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS session_no
             |  FROM flagged)
             |SELECT user_id, session_no,
             |  CAST(count(*) AS BIGINT) AS n_events,
             |  min(sec) AS start_sec, max(sec) AS end_sec
             |FROM sessions GROUP BY user_id, session_no
             |ORDER BY user_id, session_no""".stripMargin)),

    // T8 tumbling-window aggregation, deterministic batch form
    // (`date_trunc` hour); the true streaming runner (`window()` +
    // watermark) is exercised in StreamingSpec (SURVEY.md §2.10).
    Q("q39_tumbling_window",
      (s, d) => events(s, d)
        .select(
          date_format(
            from_unixtime(Scalars.longDiv("ts", 1000000000L)
              - pmod(Scalars.longDiv("ts", 1000000000L), lit(3600L))),
            "yyyy-MM-dd HH:00:00").as("hour_str"),
          col("event_type"), col("value"))
        .groupBy("hour_str", "event_type")
        .agg(count(lit(1)).as("cnt"),
          Scalars.moneySum(col("value")).as("sum_value"))
        .orderBy("hour_str", "event_type"),
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00')
             |    AS hour_str,
             |  event_type, CAST(count(*) AS BIGINT) AS cnt,
             |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // W1/O4 at HIGH partition-key cardinality (VERDICT r02 #9): q21's
    // top-k-per-group shape keyed by o_custkey (~|customers| partitions,
    // ~10 rows each) instead of a 5-value priority key. This is the window
    // partition key that actually scales: work divides across every
    // executor, no partition exceeds a handful of rows, and Spark 4's
    // WindowGroupLimit prunes each map-side group to k rows BEFORE the
    // exchange — the shuffle carries O(k·|customers|) rows, not the fact
    // table (plan-gated in PlanSpec).
    Q("q84_topk_high_card",
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        orders(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 2)
          .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
          .orderBy("o_custkey", "rn")
      },
      Some("""SELECT o_custkey, CAST(rn AS INT) AS rn, o_orderkey,
             |       o_totalprice FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |    row_number() OVER (PARTITION BY o_custkey
             |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
             |  FROM orders)
             |WHERE rn <= 2 ORDER BY o_custkey, rn""".stripMargin))
  )
}
