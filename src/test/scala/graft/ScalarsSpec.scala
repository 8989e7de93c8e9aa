package graft

import org.apache.spark.sql.functions._

import graft.ops.Scalars

/** Unit + property tests for the scalar column functions (SURVEY.md §2.8),
  * edge cases taken from the reference (§5 test strategy). Property tests
  * use seeded generation (deterministic; no extra test-bridge deps).
  */
class ScalarsSpec extends SparkSpec {
  import spark.implicits._

  private def one(colFn: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      input: String): String =
    Seq(input).toDF("s").select(colFn(col("s")).as("r"))
      .collect().head.getAs[Any]("r") match {
      case null => null
      case v => v.toString
    }

  // urlBone — reference get_url_bone (`rankings_generator.py:132-139`)
  test("urlBone strips scheme, www, and trailing slash") {
    assert(one(Scalars.urlBone, "https://www.foo.com/a/b/") == "foo.com/a/b")
    assert(one(Scalars.urlBone, "http://foo.com/a") == "foo.com/a")
    assert(one(Scalars.urlBone, "HTTPS://WWW.Foo.com/") == "Foo.com")
    assert(one(Scalars.urlBone, "ftp://foo.com/") == "ftp://foo.com")
    assert(one(Scalars.urlBone, "foo.com") == "foo.com")
  }

  test("urlBone is idempotent (seeded property)") {
    val rnd = new scala.util.Random(42)
    val schemes = Seq("https://", "http://", "HTTPS://", "Http://", "")
    val urls = (1 to 50).map { _ =>
      val host = (1 to 5).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
      schemes(rnd.nextInt(schemes.length)) +
        (if (rnd.nextBoolean()) "www." else "") +
        s"$host.com/p" + (if (rnd.nextBoolean()) "/" else "")
    }
    val df = urls.toDF("u")
      .select(Scalars.urlBone(col("u")).as("b1"))
      .select(col("b1"), Scalars.urlBone(col("b1")).as("b2"))
    assert(df.collect().forall(r => r.getString(0) == r.getString(1)))
  }

  // urlPrefix — `ranking_urls_ingestor.py:58`
  test("urlPrefix extracts scheme+www, empty when absent") {
    assert(one(Scalars.urlPrefix, "https://www.foo.com/x") == "https://www.")
    assert(one(Scalars.urlPrefix, "http://foo.com") == "http://")
    assert(one(Scalars.urlPrefix, "HTTPS://foo.com") == "") // case-sensitive, as in reference
  }

  // simplified domain rule — `rankings_generator.py:165-167`
  test("registeredDomain/subdomain simplified rule") {
    assert(one(Scalars.registeredDomain, "a.b.foo.com") == "foo.com")
    assert(one(Scalars.registeredDomain, "foo.com") == "foo.com")
    assert(one(Scalars.subdomain, "a.b.foo.com") == "a.b")
    assert(one(Scalars.subdomain, "foo.com") == null) // empty → NULL
  }

  test("epochToDateStr formats UTC dates") {
    assert(one(Scalars.epochToDateStr, "0") == "1970-01-01")
    assert(one(Scalars.epochToDateStr, "1678887190") == "2023-03-15") // reference's pinned ts
  }

  // ast.literal_eval parity — `ranking_urls_ingestor.py:60-61`
  test("parsePyList and parsePyListFast agree on reference-shaped input") {
    val inputs = Seq("['alpha', 'beta']", "['x', 'y', 'z']", "['solo']")
    inputs.foreach { s =>
      val slow = Seq(s).toDF("s")
        .select(array_join(Scalars.parsePyList(col("s")), "|").as("r"))
        .collect().head.getString(0)
      val fast = Seq(s).toDF("s")
        .select(array_join(Scalars.parsePyListFast(col("s")), "|").as("r"))
        .collect().head.getString(0)
      assert(slow == fast, s"input $s")
    }
  }

  test("chunkId strides like reference _chunkify") {
    // `ranking_urls_generator.py:54-55`: chunks of n, 0-indexed
    val df = spark.range(1, 26).toDF("rn")
      .select(Scalars.chunkId(col("rn"), 10).as("c"))
      .groupBy("c").count().orderBy("c")
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((0L, 10L), (1L, 10L), (2L, 5L)))
  }

  test("chunkify partition-cover property: chunks disjoint, complete, bounded") {
    val rnd = new scala.util.Random(7)
    (1 to 10).foreach { _ =>
      val n = 1 + rnd.nextInt(200)
      val size = 1 + rnd.nextInt(50)
      val rows = spark.range(1, n + 1).toDF("rn")
        .select(col("rn"), Scalars.chunkId(col("rn"), size).as("c"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.map(_._1).toSet == (1L to n).toSet)            // cover
      assert(rows.groupBy(_._2).values.forall(_.length <= size)) // bounded
    }
  }

  test("tokenHash is non-negative, deterministic, 60-bit") {
    val vals = Seq("a", "b", "longer token", "a").toDF("s")
      .select(Scalars.tokenHash(col("s")).as("h")).collect().map(_.getLong(0))
    assert(vals(0) == vals(3))
    assert(vals.forall(h => h >= 0 && h < (1L << 60)))
    assert(vals.distinct.length == 3)
  }

  test("shingles3 produces n-2 shingles, short input falls back to whole text") {
    val r = Seq("a b c d").toDF("text")
      .select(Scalars.shingles3Conv(split(col("text"), " ")).as("sh"))
      .collect().head.getSeq[String](0)
    assert(r == Seq("a b c", "b c d"))
    val short = Seq("a b").toDF("text")
      .select(Scalars.shingles3Conv(split(col("text"), " ")).as("sh"))
      .collect().head.getSeq[String](0)
    assert(short == Seq("a b"))
  }

  test("round2 rounds the binary double value (cross-engine-exact form)") {
    val r = Seq(1.234, 1.236, 19570.815, 2.0).toDF("x")
      .select(Scalars.round2(col("x")).as("r")).collect().map(_.getDouble(0))
    assert(r(0) == 1.23)
    assert(r(1) == 1.24)
    // 19570.815 is stored as 19570.81499...; floor-form rounds the true value
    assert(r(2) == 19570.81)
    assert(r(3) == 2.0)
  }

  test("moneySum is exact and partition-order-invariant where a double " +
    "sum is neither") {
    // 100k cents: the double sum accumulates representation error
    // (0.01 is not binary), the decimal sum is exactly 1000.00
    val df = spark.range(0, 100000).select(lit(0.01).as("v"))
    def total(parts: Int): Double = df.repartition(parts)
      .agg(Scalars.moneySum(col("v")).as("s")).collect().head.getDouble(0)
    assert(total(1) == 1000.0)
    assert(total(17) == 1000.0)
    assert(total(32) == 1000.0)
    val naive = df.agg(sum("v")).collect().head.getDouble(0)
    assert(naive != 1000.0,
      "fixture no longer demonstrates double-sum error - strengthen it")
  }

  /** The DECIMAL(18,2) sum that moneySum's unscaled-long sum replaced. */
  private def decimalMoneySum(c: org.apache.spark.sql.Column) =
    sum(c.cast(org.apache.spark.sql.types.DecimalType(18, 2))).cast("double")

  test("moneySum gives the DECIMAL(18,2) sum's double bit for bit: empty, " +
    "all-null, single-row, negative-cent, near-2^53 and seeded inputs") {
    val rnd = new scala.util.Random(13)
    val seeded = Seq.fill(5000)(
      Some((rnd.nextLong() % 100000000000L) / 100.0)) // ±1e9 dollars, in cents
    val cases: Seq[(String, Seq[Option[Double]])] = Seq(
      "empty" -> Seq.empty,
      "all-null" -> Seq(None, None, None),
      "single row" -> Seq(Some(12.34)),
      "negative cents" -> Seq(Some(-0.01), Some(-1234.56), Some(0.07),
        Some(-0.29), None, Some(99.99), Some(-19570.81)),
      // totals just past 2^53 cents, where the final double rounds
      "near 2^53 cents" -> Seq(Some(90071992547409.91), Some(0.01),
        Some(0.01), Some(0.03), Some(-0.05), Some(45035996273704.97)),
      // a total past 10^18 cents, beyond a compact (long-backed) Decimal
      "past 1e18 cents" -> (Seq.fill(3)(Some(9.0e15)) :+ Some(-0.01)),
      "seeded" -> seeded)
    cases.foreach { case (name, vs) =>
      val df = vs.toDF("v").repartition(7)
      val Seq(got, want) = Seq(Scalars.moneySum(col("v")),
        decimalMoneySum(col("v"))).map { c =>
        val r = df.agg(c).head()
        if (r.isNullAt(0)) None
        else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(0)))
      }
      assert(got == want, s"$name: moneySum ${got.map(java.lang.Double
        .longBitsToDouble)} vs the DECIMAL sum ${want.map(java.lang.Double
        .longBitsToDouble)}")
      if (name == "empty" || name == "all-null") assert(got.isEmpty, name)
    }
  }

  test("moneySum raises on a total past the LONG's ±9.2e18 cents, under " +
    "ANSI and with ANSI off: it never wraps") {
    // 11 × 9e17 cents = 9.9e18 > Long.MaxValue ≈ 9.22e18
    val df = Seq.fill(11)(9.0e15).toDF("v").repartition(3)
    Seq("true", "false").foreach { ansi =>
      withConf("spark.sql.ansi.enabled" -> ansi) {
        val e = intercept[Exception](
          df.agg(Scalars.moneySum(col("v"))).head())
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(t => String.valueOf(t.getMessage).contains("ARITHMETIC_OVERFLOW")),
          s"ansi=$ansi: not an overflow error: $e")
      }
    }
  }
}
