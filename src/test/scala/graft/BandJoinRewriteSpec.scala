package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.BandJoinRewrite

/** The §4.2 custom-Rule tier: BandJoinRewrite turns a pure |a−b| ≤ H theta
  * join (planned BroadcastNestedLoopJoin — unrunnable at scale) into the
  * binned equi-join q99 writes by hand. Gates: the naive plan really is
  * the nested-loop shape, the rewritten plan really is an equi-join on the
  * bin, the output multiset is IDENTICAL (including cross-bin and exact
  * boundary pairs), and the rule declines joins it cannot preserve
  * (outer joins, joins that already have an equi key).
  */
class BandJoinRewriteSpec extends SparkSpec {

  private val H = 100L

  private def sides(s: SparkSession): (DataFrame, DataFrame) = {
    // ls spread so some pairs live in the same H-bin and some straddle a
    // bin edge; includes exact-boundary distances (=H) and just-outside
    // (H+1) on both signs
    val l = s.createDataFrame(Seq(
      (1L, 1000L), (2L, 1099L), (3L, 1100L), (4L, 1101L),
      (5L, 250L), (6L, 301L), (7L, 99L), (8L, 5000L)
    )).toDF("l_id", "l_ts")
    val r = s.createDataFrame(Seq(
      (10L, 1000L), (11L, 1199L), (12L, 1200L), (13L, 200L),
      (14L, 350L), (15L, 0L), (16L, 9999L)
    )).toDF("r_id", "r_ts")
    (l, r)
  }

  private def bandJoin(l: DataFrame, r: DataFrame): DataFrame =
    l.join(r,
      r("r_ts") >= l("l_ts") - H && r("r_ts") <= l("l_ts") + H)

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.select("l_id", "r_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq

  private def withRule[T](body: => T): T = {
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = saved :+ BandJoinRewrite(spark)
    try body
    finally spark.experimental.extraOptimizations = saved
  }

  test("naive band join is the nested-loop plan the rule exists to kill") {
    val (l, r) = sides(spark)
    val p = bandJoin(l, r).queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("CartesianProduct"), s"expected the naive pairing plan:\n$p")
  }

  test("rewritten plan is a binned equi-join with identical results") {
    val (l, r) = sides(spark)
    val expected = rows(bandJoin(l, r)) // naive BNLJ = ground truth
    assert(expected.nonEmpty && expected.contains((1L, 10L)))
    withRule {
      val df = bandJoin(l, r)
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"),
        s"rule did not replan the band join:\n$p")
      assert(p.contains("__graft_band_bin"),
        s"bin key missing — equi-join came from somewhere else:\n$p")
      assert(rows(df) === expected,
        "rewrite changed the join result multiset")
    }
  }

  test("boundary semantics survive the rewrite exactly") {
    val (l, r) = sides(spark)
    withRule {
      val got = rows(bandJoin(l, r))
      // distance exactly H is IN (1100 vs 1000, 1100 vs 1200); H+1 is OUT
      assert(got.contains((3L, 10L)) && got.contains((3L, 12L)))
      assert(!got.contains((4L, 10L)), "|Δ|=H+1 leaked in (1101 vs 1000)")
      // cross-bin pair: 99 vs 200 (bins 0 and 2 never meet... must be out)
      assert(!got.contains((7L, 13L)), "|Δ|=101 leaked in")
      // cross-bin pair IN: 250 (bin 2) vs 350 (bin 3), |Δ|=100
      assert(got.contains((5L, 14L)), "bin-straddling in-band pair lost")
      // isolated rows match nothing
      assert(!got.exists(_._1 == 8L) && !got.exists(_._2 == 16L))
    }
  }

  test("LEFT band join rewrites as inner-bin-join ∪ anti-join null-fill " +
    "with the naive outer multiset preserved exactly") {
    val (l, r) = sides(spark)
    def leftJoin(a: DataFrame, b: DataFrame): DataFrame =
      a.join(b, b("r_ts") >= a("l_ts") - H && b("r_ts") <= a("l_ts") + H,
        "left")
    def outRows(df: DataFrame): Seq[(Long, Option[Long])] =
      df.select("l_id", "r_id").collect()
        .map(x => (x.getLong(0),
          if (x.isNullAt(1)) None else Some(x.getLong(1))))
        .sortBy(t => (t._1, t._2)).toSeq
    val expected = outRows(leftJoin(l, r)) // naive BNLJ = ground truth
    // the fixture exercises both arms: matched rows and null-extended ones
    assert(expected.contains((5L, Some(14L))), "bin-straddling pair missing")
    assert(expected.contains((8L, None)), "unmatched preserved row missing")
    withRule {
      val df = leftJoin(l, r)
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"),
        s"rule did not replan the LEFT band join:\n$p")
      assert(p.contains("__graft_band_bin"),
        s"bin key missing from the rewritten left join:\n$p")
      assert(outRows(df) === expected,
        "left-join rewrite changed the outer multiset")
    }
  }

  test("rule declines joins it cannot preserve") {
    val (l, r) = sides(spark)
    withRule {
      // full outer: BOTH sides are preserved; the probe explode lives on
      // the right, so null-extended right rows cannot be recovered
      val fo = l.join(r,
        r("r_ts") >= l("l_ts") - H && r("r_ts") <= l("l_ts") + H,
        "full")
      val pf = fo.queryExecution.executedPlan.toString
      assert(!pf.contains("__graft_band_bin"),
        s"rule rewrote a FULL OUTER band join:\n$pf")
      // right outer: preserved side is the exploded side — declined too
      val ro = l.join(r,
        r("r_ts") >= l("l_ts") - H && r("r_ts") <= l("l_ts") + H,
        "right")
      val pr = ro.queryExecution.executedPlan.toString
      assert(!pr.contains("__graft_band_bin"),
        s"rule rewrote a RIGHT OUTER band join:\n$pr")
      // equi conjunct present: planner already has a hash key
      val equi = l.join(r, l("l_id") === r("r_id") &&
        r("r_ts") >= l("l_ts") - H && r("r_ts") <= l("l_ts") + H)
      val pe = equi.queryExecution.executedPlan.toString
      assert(!pe.contains("__graft_band_bin"),
        s"rule rewrote a join that already had an equi key:\n$pe")
      // and the left-join arm of the same guard: equi key wins there too
      val le = l.join(r, l("l_id") === r("r_id") &&
        r("r_ts") >= l("l_ts") - H && r("r_ts") <= l("l_ts") + H, "left")
      val ple = le.queryExecution.executedPlan.toString
      assert(!ple.contains("__graft_band_bin"),
        s"rule rewrote a left join that already had an equi key:\n$ple")
    }
  }

  test("the SparkSessionExtensions route installs the rule end-to-end") {
    // a session built the way a user would:
    // spark.sql.extensions=graft.ops.GraftExtensions equivalent
    val s2 = extSpark
    assert(s2 ne spark, "builder returned the old session — no extensions")
    val (l, r) = sides(s2)
    val df = bandJoin(l, r)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("__graft_band_bin") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"extensions session did not band-rewrite:\n$p")
    // and the injected function rides along in the same extensions
    assert(s2.sql("SELECT registered_domain('a.b.example.com') AS d")
      .head().getString(0) == "example.com")
  }
}
