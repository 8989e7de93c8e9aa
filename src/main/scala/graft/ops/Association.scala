package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Categorical-association coefficients — ClickHouse `cramersV` /
  * `contingency` parity: given a table of (a, b) categorical pairs, how
  * strongly does knowing `a` constrain `b`? (The event-mix question —
  * "is the type distribution independent of the weekday?" — that a χ²
  * TEST answers with a yes/no; these return the STRENGTH on [0, 1].)
  *
  * Fixed-point discipline (q207's χ² precedent): the contingency cells,
  * row/column marginals, and grand total are exact BIGINT counts; the
  * χ² core uses the algebraic form χ² = n·(Σ o²/(r·c) − 1) with the
  * per-cell ratio as `(1e6·o²) DIV (r·c)` — BOTH engines floor the SAME
  * integer division, so the ppm statistic replays exactly (the per-cell
  * floor is part of the statistic's definition, not error). The final
  * V = sqrt(χ²/(n·(min(R,C)−1))) and C = sqrt(χ²/(χ²+n)) ride the
  * identical-IEEE-tree contract (ops/Welch) as doubles.
  *
  * Scale shape: ONE corpus-sized partial+final count agg to the
  * cells table (|A|×|B| rows — category-bounded, not corpus-bounded);
  * marginals are two more aggs over cells and everything joins back via
  * broadcasts of marginal-sized tables. No window touches fact rows.
  */
object Association {

  /** The shared one-row exact core (n, n_a, n_b, chi2_ppm) both
    * coefficient tails consume — the corpus agg to cells, broadcast
    * marginals, and the floored ppm χ² algebra.
    */
  private def chi2Core(pairs: DataFrame, a: String, b: String): DataFrame = {
    val cells = pairs.groupBy(col(a).as("ka"), col(b).as("kb"))
      .agg(count(lit(1)).as("o"))
      // cut: each consumer's join infers its own isnotnull filter into
      // this subtree, so the lazy plan scans the pairs once per consumer
      .transform(Materialize.cut)
    val ra = cells.groupBy("ka").agg(sum("o").as("r"))
    val cb = cells.groupBy("kb").agg(sum("o").as("c"))
    val tot = cells.agg(sum("o").as("n"),
      countDistinct("ka").as("n_a"), countDistinct("kb").as("n_b"))
    cells
      .join(broadcast(ra), "ka").join(broadcast(cb), "kb")
      // (1e6·o²) needs o < 3e6 to stay inside a long per cell — loud
      // guard (q209 pattern); a hotter cell means pre-bucket the pair
      .withColumn("guard", coalesce(
        assert_true(col("o") < lit(3000000L),
          lit("Association.cramers: cell count >= 3e6 overflows the " +
            "ppm cell term — pre-aggregate or widen the fold"))
          .cast("long"), lit(0L)))
      .withColumn("term",
        expr("(1000000 * o * o) DIV (r * c)") + col("guard"))
      .agg(sum("term").as("sum_term"))
      .crossJoin(broadcast(tot))
      // per-cell floors can leave sum_term a hair under 1e6 at true
      // independence — clamp so the sqrt domain stays non-negative
      .withColumn("chi2_ppm",
        expr("greatest(n * (sum_term - 1000000), CAST(0 AS BIGINT))"))
  }

  /** One-row (n, n_a, n_b, chi2_ppm, cramers_v, contingency_c) from a
    * DataFrame of categorical pair columns `a`, `b`.
    */
  def cramers(pairs: DataFrame, a: String, b: String): DataFrame =
    chi2Core(pairs, a, b)
      .withColumn("k", expr("least(n_a, n_b) - 1"))
      // IEEE tail mirrored textually by oracleTail — keep in lockstep
      .withColumn("cramers_v", expr(
        "sqrt((CAST(chi2_ppm AS DOUBLE) / 1000000.0) / " +
          "(CAST(n AS DOUBLE) * CAST(k AS DOUBLE)))"))
      .withColumn("contingency_c", expr(
        "sqrt((CAST(chi2_ppm AS DOUBLE) / 1000000.0) / " +
          "((CAST(chi2_ppm AS DOUBLE) / 1000000.0) + CAST(n AS DOUBLE)))"))
      .select("n", "n_a", "n_b", "chi2_ppm", "cramers_v", "contingency_c")

  /** Bias-corrected Cramér's V — ClickHouse `cramersVBiasCorrected`
    * parity (Bergsma 2013): the plain V systematically overstates
    * association on small samples / large tables because E[χ²] > 0 even
    * under exact independence; the correction subtracts that expectation
    * (φ²⁺ = max(0, φ² − (R−1)(C−1)/(n−1))) and shrinks the dimensions
    * (R̃ = R − (R−1)²/(n−1), likewise C̃) before normalizing:
    * V⁺ = sqrt(φ²⁺ / min(R̃−1, C̃−1)). Closed-form over the SAME exact
    * (n, n_a, n_b, chi2_ppm) core as [[cramers]] — one more IEEE tree
    * on the 1-row table, zero extra corpus work ([[bcOracleTail]] is
    * the textual mirror). Degenerate axes (R = 1 or C = 1) have no
    * association to correct and are filtered, mirrored both sides.
    */
  def cramersCorrected(pairs: DataFrame, a: String, b: String): DataFrame =
    chi2Core(pairs, a, b)
      .filter(col("n_a") > 1 && col("n_b") > 1 && col("n") > 1)
      // IEEE tail mirrored textually by bcOracleTail — keep in lockstep
      .withColumn("phi2", expr(
        "(CAST(chi2_ppm AS DOUBLE) / 1000000.0) / CAST(n AS DOUBLE)"))
      .withColumn("phi2c", expr(
        "greatest(phi2 - (CAST(n_a - 1 AS DOUBLE) * " +
          "CAST(n_b - 1 AS DOUBLE)) / CAST(n - 1 AS DOUBLE), 0.0)"))
      .withColumn("r_t", expr(
        "CAST(n_a AS DOUBLE) - (CAST(n_a - 1 AS DOUBLE) * " +
          "CAST(n_a - 1 AS DOUBLE)) / CAST(n - 1 AS DOUBLE)"))
      .withColumn("c_t", expr(
        "CAST(n_b AS DOUBLE) - (CAST(n_b - 1 AS DOUBLE) * " +
          "CAST(n_b - 1 AS DOUBLE)) / CAST(n - 1 AS DOUBLE)"))
      .withColumn("cramers_v_bc", expr(
        "sqrt(phi2c / least(r_t - 1.0, c_t - 1.0))"))
      .select("n", "n_a", "n_b", "chi2_ppm", "cramers_v_bc")

  /** DuckDB rendition over a CTE `cells(ka, kb, o)` — integer algebra
    * and IEEE tail textually mirrored from [[cramers]].
    */
  def oracleTail: String =
    s"""ra AS (SELECT ka, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1),
       |cb AS (SELECT kb, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
       |t AS (SELECT CAST(sum(o) AS BIGINT) AS n,
       |  CAST(count(DISTINCT ka) AS BIGINT) AS n_a,
       |  CAST(count(DISTINCT kb) AS BIGINT) AS n_b FROM cells),
       |s AS (SELECT CAST(sum((1000000 * o * o) // (ra.r * cb.c))
       |  AS BIGINT) AS sum_term
       |  FROM cells JOIN ra USING (ka) JOIN cb USING (kb)),
       |f AS (SELECT t.n, t.n_a, t.n_b,
       |  greatest(t.n * (s.sum_term - 1000000), CAST(0 AS BIGINT))
       |    AS chi2_ppm,
       |  least(t.n_a, t.n_b) - 1 AS k FROM t, s)
       |SELECT n, n_a, n_b, CAST(chi2_ppm AS BIGINT) AS chi2_ppm,
       |  sqrt((CAST(chi2_ppm AS DOUBLE) / 1000000.0) /
       |    (CAST(n AS DOUBLE) * CAST(k AS DOUBLE))) AS cramers_v,
       |  sqrt((CAST(chi2_ppm AS DOUBLE) / 1000000.0) /
       |    ((CAST(chi2_ppm AS DOUBLE) / 1000000.0) + CAST(n AS DOUBLE)))
       |    AS contingency_c
       |FROM f""".stripMargin

  /** DuckDB rendition of the bias-corrected tail over the same
    * `cells(ka, kb, o)` CTE — the textual mirror of
    * [[cramersCorrected]] (shares the ra/cb/t/s/f core with
    * [[oracleTail]] by construction).
    */
  def bcOracleTail: String =
    s"""ra AS (SELECT ka, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1),
       |cb AS (SELECT kb, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
       |t AS (SELECT CAST(sum(o) AS BIGINT) AS n,
       |  CAST(count(DISTINCT ka) AS BIGINT) AS n_a,
       |  CAST(count(DISTINCT kb) AS BIGINT) AS n_b FROM cells),
       |s AS (SELECT CAST(sum((1000000 * o * o) // (ra.r * cb.c))
       |  AS BIGINT) AS sum_term
       |  FROM cells JOIN ra USING (ka) JOIN cb USING (kb)),
       |f AS (SELECT t.n, t.n_a, t.n_b,
       |  greatest(t.n * (s.sum_term - 1000000), CAST(0 AS BIGINT))
       |    AS chi2_ppm FROM t, s
       |  WHERE t.n_a > 1 AND t.n_b > 1 AND t.n > 1),
       |g AS (SELECT *,
       |  (CAST(chi2_ppm AS DOUBLE) / 1000000.0) / CAST(n AS DOUBLE)
       |    AS phi2,
       |  CAST(n_a AS DOUBLE) - (CAST(n_a - 1 AS DOUBLE) *
       |    CAST(n_a - 1 AS DOUBLE)) / CAST(n - 1 AS DOUBLE) AS r_t,
       |  CAST(n_b AS DOUBLE) - (CAST(n_b - 1 AS DOUBLE) *
       |    CAST(n_b - 1 AS DOUBLE)) / CAST(n - 1 AS DOUBLE) AS c_t
       |  FROM f),
       |h2 AS (SELECT *,
       |  greatest(phi2 - (CAST(n_a - 1 AS DOUBLE) *
       |    CAST(n_b - 1 AS DOUBLE)) / CAST(n - 1 AS DOUBLE), 0.0)
       |    AS phi2c
       |  FROM g)
       |SELECT n, n_a, n_b, CAST(chi2_ppm AS BIGINT) AS chi2_ppm,
       |  sqrt(phi2c / least(r_t - 1.0, c_t - 1.0)) AS cramers_v_bc
       |FROM h2""".stripMargin
}
