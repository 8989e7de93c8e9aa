package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{EvalMode, Expression, IntegralDivide, Literal, MakeDecimal, NumericEvalContext, UnscaledValue}
import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.DecimalType

/** Scalar column functions — SURVEY.md §2.8. Each is a pure `Column =>
  * Column` built from codegen'd built-in expressions or from graft's own
  * native Catalyst expressions (no UDFs), so filter pushdown and
  * whole-stage codegen stay intact at 100 TB scale.
  *
  * The helpers here are the only way a query reaches the four native
  * expressions ([[tokenHash]], [[shingles3Text]], [[rollingHash]],
  * [[registeredDomainPsl]]): each wraps its expression through
  * `ColumnBridge`, so no session or function registry is involved. SQL
  * text reaches the same four through [[GraftExtensions]].
  *
  * Reference behavior being re-expressed (file:line in /root/reference):
  *  - urlBone: `rankings_generator.py:132-139` (strip scheme + `www.` +
  *    trailing `/`, case-insensitive scheme test via lower()).
  *  - urlPrefix: `ranking_urls_ingestor.py:58` regex `(https?://(?:www\.)?)`.
  *  - registeredDomain/subdomain: simplified last-two-labels rule standing in
  *    for tldextract (`rankings_generator.py:165-167`); `www`/empty subdomain
  *    → NULL. registeredDomainPsl is the full public-suffix-list parse.
  *  - epochToDateStr: `rankings_generator.py:155`
  *    `datetime.fromtimestamp(ts).date().strftime("%Y-%m-%d")` (UTC session).
  *  - parsePyList: `ranking_urls_ingestor.py:60-61` `ast.literal_eval` on
  *    Python-list strings (single-quoted, no embedded quotes/commas — the
  *    reference's faker words are safe, `rankings_generator.py:172`).
  *  - chunkId: `ranking_urls_generator.py:54-55` stride chunking.
  */
object Scalars {

  /** Strip `http(s)://(www.)` prefix case-insensitively and a trailing `/`. */
  def urlBone(url: Column): Column =
    regexp_replace(
      regexp_replace(url, "(?i)^https?://(www\\.)?", ""),
      "/$", "")

  /** Extract the scheme+www prefix; empty string when absent (pandas
    * `str.extract` yields NaN — we keep "" to stay join/group-friendly and
    * the declared query documents it).
    */
  def urlPrefix(url: Column): Column =
    regexp_extract(url, "(https?://(?:www\\.)?)", 1)

  /** Simplified registered-domain: last two dot-labels. Full PSL parity is
    * [[registeredDomainPsl]] (declared as q19b, whose oracle replays the
    * PSL algorithm in SQL).
    */
  def registeredDomain(fqdn: Column): Column =
    regexp_extract(fqdn, "([^.]+\\.[^.]+)$", 1)

  /** tldextract-parity registered domain (`rankings_generator.py:165-167`)
    * over the vendored public-suffix list, through the native codegen
    * [[RegisteredDomainExpr]]; semantics in [[DomainParse.registeredDomain]].
    */
  def registeredDomainPsl(fqdn: Column): Column =
    native(RegisteredDomainExpr(_))(fqdn)

  /** Subdomain = fqdn minus registered domain minus separating dot; NULL when
    * empty (mirrors `subdomain or None`, `rankings_generator.py:167`).
    */
  def subdomain(fqdn: Column): Column = {
    val reg = registeredDomain(fqdn)
    // substring arithmetic keeps it expressible identically in DuckDB
    when(length(fqdn) - length(reg) > 1,
      fqdn.substr(lit(1), length(fqdn) - length(reg) - 1))
  }

  /** Epoch seconds → "yyyy-MM-dd" (session TZ pinned UTC). */
  def epochToDateStr(epochSec: Column): Column =
    date_format(from_unixtime(epochSec), "yyyy-MM-dd")

  /** Python-list string `['a', 'b']` → array<string>, general form.
    * Note: JsonToStructs is CodegenFallback (breaks whole-stage codegen and
    * pays a hefty first-use JIT cost) — hot paths with the reference's
    * quote-free single-word elements should prefer parsePyListFast.
    */
  def parsePyList(s: Column): Column =
    from_json(translate(s, "'", "\""),
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType))

  /** Codegen-friendly Python-list parse for the reference's actual data
    * contract (faker words: no embedded quotes/commas/brackets —
    * `rankings_generator.py:172`, SURVEY.md §7.5 #3): strip `['`/`']`,
    * split on `', '`.
    */
  def parsePyListFast(s: Column): Column =
    split(regexp_replace(s, "^\\['|'\\]$", ""), "', '")

  /** Stride chunk id for a 1-based row number: `(rn - 1) DIV size`, exact
    * long division (a double quotient rounds past 2^53 rows).
    */
  def chunkId(rowNumber1Based: Column, size: Int): Column =
    native(IntegralDivide(_, Literal(size.toLong)))(
      (rowNumber1Based - 1).cast("long"))

  /** Cross-engine deterministic 60-bit token hash: first 15 hex digits of
    * md5, as a non-negative long. DuckDB equivalent:
    * `('0x' || substr(md5(t), 1, 15))::BIGINT`. Used by minhash/simhash so
    * the DuckDB oracle can replay the exact same hash (SURVEY.md §2.11).
    *
    * Since round 12 this routes through the native codegen
    * [[TokenHashExpr]] (md5 → top 60 bits direct — no hex-string
    * round-trip; bit-identical by construction, pinned by
    * TokenHashExprSpec incl. codegen-off). The pre-native declarative
    * form is kept as [[tokenHashConv]] for the identity spec.
    */
  def tokenHash(t: Column): Column = native(TokenHashExpr(_))(t)

  /** The declarative (conv ∘ substring ∘ md5) form tokenHash replaced —
    * retained ONLY as the bit-identity witness in TokenHashExprSpec.
    */
  private[graft] def tokenHashConv(t: Column): Column =
    conv(substring(md5(t), 1, 15), 16, 10).cast("long")

  /** Order-sensitive rolling-hash fingerprint of a text: the left fold
    * h = (31·h + tokenHash(w) mod P) mod P over `split(text, " ")`, as one
    * native codegen [[RollingHashExpr]] call (bit-identical to the
    * declarative HOF form, pinned by RollingHashExprSpec).
    */
  def rollingHash(text: Column): Column = native(RollingHashExpr(_))(text)

  /** A native expression over `c` as a Column (no function registry). */
  private def native(build: Expression => Expression)(c: Column): Column =
    ColumnBridge.column(build(ColumnBridge.expression(c)))

  /** Prime of the universal-hash family over tokenHash, 31 bits so
    * products stay in long range: h_i(t) = (a_i * (base % P) + b_i) % P.
    */
  val HashP = 1000000007L

  /** Integral division of a named long column — `c DIV d`, the 64-bit-exact
    * form. `Column./` always promotes to double, whose 53-bit mantissa
    * cannot hold epoch-nanos (~2^60): `cast(ts as double)` rounds by up to
    * 256 ns, which can misbucket a timestamp near a boundary. Every bucket
    * derivation on `events.ts` must go through this (Tables.events).
    */
  def longDiv(colName: String, divisor: Long): Column =
    expr(s"$colName DIV ${divisor}L")

  /** Cross-engine-exact round-to-2dp for row-level derived doubles.
    * Spark's round() rounds the *shortest decimal rendering* of the double
    * (BigDecimal.valueOf), DuckDB rounds the *binary value* — they disagree
    * on near-half products (e.g. 21745.35*0.9 = 19570.814999999998...).
    * floor(x*100 + 0.5)/100 is pure IEEE arithmetic, so both engines get
    * bit-identical results from identical inputs. Positive domains only.
    */
  def round2(x: Column): Column = floor(x * 100 + lit(0.5)) / 100

  /** DuckDB rendition of round2 for oracle SQL. */
  def round2Sql(x: String): String = s"(floor(($x) * 100 + 0.5) / 100)"

  /** Exact integer-cents quantization of a NON-NEGATIVE money double —
    * the integer-domain twin of [[round2]]: floor(x·100 + 0.5) as BIGINT,
    * identical IEEE arithmetic in both engines. Domain contract: x ≥ 0
    * (events.value is generated ≥ 0.01; TablesSpec pins the schema). The
    * contract matters because downstream integer division over these
    * cents uses Spark `DIV` (truncates toward zero) where DuckDB uses
    * `//` (floors) — equivalent only on a non-negative domain. A signed
    * money column would need a floor-division helper instead; asserting
    * here per row would put a branch on the hottest agg path for a
    * condition the generator rules out, so the contract is documented +
    * spec-pinned (ScalarsSpec) rather than runtime-checked.
    */
  def cents(x: Column): Column = floor(x * 100 + lit(0.5)).cast("long")

  /** DuckDB rendition of cents for oracle SQL. */
  def centsSql(x: String): String =
    s"CAST(floor(($x) * 100 + 0.5) AS BIGINT)"

  /** Order-independent money sum. A double sum over millions of rows is
    * accumulation-order-dependent: at sf1 (6M lineitem rows) Spark's
    * partial-agg merge order vs DuckDB's produced grand totals differing
    * in the cents digit (observed on q60), so engine-vs-oracle equality
    * of `round(sum(double), 2)` is not well-defined at scale. The fix is
    * the one a money pipeline uses anyway: quantize each row to cents
    * (the input is either an exact-2dp source column, which the
    * DECIMAL(18,2) cast snaps losslessly, or a derived product already
    * quantized by [[round2]]), then sum EXACTLY — associative, so partial
    * aggregation order cannot matter — and convert the one exact total to
    * double at the end (a single identical rounding in both engines).
    *
    * The sum runs over the cast's unscaled cents in a LONG and makes the
    * one DECIMAL(28,2) at the end: Spark's own `DecimalAggregates` rewrite
    * (`UnscaledValue`/`MakeDecimal`), which Spark applies only up to
    * DECIMAL(8,2). Integer addition is exact, so the total is the
    * decimal sum's, bit for bit, and the agg buffer is a primitive long
    * instead of a BigDecimal-backed DECIMAL(28,2) (q06's partial
    * aggregate: about half its steady time). Headroom: the LONG holds
    * ±9.2e18 cents (about 9.2e16 dollars) against DECIMAL(28,2)'s ±1e26
    * cents; the sum is ANSI whatever the session's mode, so a total past
    * it raises ARITHMETIC_OVERFLOW and never wraps. DECIMAL(18,2) holds
    * ±10^16 cents per row.
    */
  def moneySum(centsQuantized: Column): Column = {
    val cents = UnscaledValue(ColumnBridge.expression(
      centsQuantized.cast(DecimalType(18, 2))))
    val total = Sum(cents, NumericEvalContext(EvalMode.ANSI))
    ColumnBridge.column(MakeDecimal(total.toAggregateExpression(), 28, 2))
      .cast("double")
  }

  /** DuckDB rendition of moneySum for oracle SQL. */
  def moneySumSql(centsQuantized: String): String =
    s"CAST(sum(CAST(($centsQuantized) AS DECIMAL(18,2))) AS DOUBLE)"

  /** round2 generalized to n decimal places (n ≤ 15 so 10^n is exact in
    * double). Same positive-domain floor-form contract as round2.
    */
  def roundAt(x: Column, n: Int): Column = {
    val p = math.pow(10, n)
    floor(x * p + lit(0.5)) / p
  }

  /** DuckDB rendition of roundAt for oracle SQL. */
  def roundAtSql(x: String, n: Int): String = {
    val p = math.pow(10, n).toLong
    s"(floor(($x) * $p + 0.5) / $p)"
  }

  /** Distinct 3-word shingles of a text column — the MinHash feature set.
    * Word-level minhash over a small vocabulary collides catastrophically
    * (measured: 7.58M LSH candidate pairs vs 493 with shingles on the sf0.1
    * documents table); shingling is the standard fix (SURVEY.md §2.11 X2).
    * Guard: <3 words → the whole text as one shingle.
    *
    * Since round 13 this routes through the native codegen
    * [[Shingles3Expr]] (one byte walk emitting zero-copy substring
    * slices — the shingle join separator equals the split separator, so
    * shingles ARE substrings; no words array, no interpreted transform
    * lambda). Bit-identical to the declarative HOF form, which is kept
    * as [[shingles3Conv]] for the identity spec; DuckDB replays the same
    * set via QueriesText.shinglesSql.
    */
  def shingles3Text(text: Column): Column = native(Shingles3Expr(_))(text)

  /** Word k-grams of the token-array column named `t`, in order and with
    * duplicates: element i is `concat_ws(' ', slice(t, i, k))` for
    * i = 1 .. size(t) − k + 1 — the map-side shingle/n-gram build.
    * Precondition: rows with `size(t) < k` are filtered out first (every
    * caller does); on such a row `sequence` counts down through 0 and
    * `slice` fails on index 0 at run time.
    */
  def kgrams(t: String, k: Int): Column =
    expr(s"transform(sequence(1, size($t) - ${k - 1}), " +
      s"i -> concat_ws(' ', slice($t, i, $k)))")

  /** The declarative array-transform form shingles3Text replaced —
    * retained ONLY as the bit-identity witness in Shingles3ExprSpec
    * (1-based element_at matches DuckDB list indexing). Interpreted
    * (ArrayTransform is CodegenFallback): do not put on a hot path.
    */
  private[graft] def shingles3Conv(words: Column): Column =
    when(size(words) >= 3,
      array_distinct(transform(sequence(lit(1), size(words) - 2),
        i => concat_ws(" ",
          element_at(words, i),
          element_at(words, i + 1),
          element_at(words, i + 2)))))
      .otherwise(array(concat_ws(" ", words)))
}
