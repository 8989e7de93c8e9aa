package graft

import org.apache.spark.sql.functions._

import graft.ops.{Scalars, Shingles3Expr}

/** The native shingles3 expression must be BIT-IDENTICAL to the
  * declarative (when/transform/array_distinct) HOF form it replaced
  * under `Scalars.shingles3Text` — same shingle STRINGS in the same
  * first-occurrence order, because minhash signatures, band keys,
  * novelty hashes and PPJoin prefixes all key on these values and every
  * oracle replays them via QueriesText.shinglesSql. Divergence anywhere
  * (empty segments, duplicates, unicode, null, codegen vs interpreted)
  * would silently flip q174/q185 and the spec-level shingle consumers.
  */
class Shingles3ExprSpec extends SparkSpec {
  import spark.implicits._

  private def native(t: org.apache.spark.sql.Column) =
    Scalars.shingles3Text(t)
  private def conv(t: org.apache.spark.sql.Column) =
    Scalars.shingles3Conv(split(t, " "))

  test("native == conv form on the full documents table, order included") {
    val docs = Tables.documents(spark, sf)
    val both = docs.select(native(col("text")).as("n"),
      conv(col("text")).as("c"))
    assert(both.filter(not(col("n") <=> col("c"))).count() == 0)
    assert(both.count() > 0)
  }

  test("edges: empty, 1-2 words, duplicate shingles keep first-occurrence " +
      "order, leading/trailing/adjacent spaces, unicode") {
    val cases = Seq(
      "",                       // [""]
      "one",                    // ["one"]
      "a b",                    // ["a b"]
      "a b c",                  // ["a b c"]
      "x y x y x y",            // dups → ["x y x", "y x y"]
      " a b c ",                // empty segments participate
      "a  b c",                 // adjacent spaces → empty middle word
      "naïve café — ünïcödé 中文 ok",
      "a b c d e f g")
    val got = cases.toDF("t")
      .select(col("t"), native(col("t")).as("n"), conv(col("t")).as("c"))
      .collect()
    got.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"divergence on '${r.getString(0)}'")
    }
    val dup = got.find(_.getString(0) == "x y x y x y").get
    assert(dup.getSeq[String](1) == Seq("x y x", "y x y"))
  }

  test("null input pins the declarative form's degenerate [\"\"]") {
    val r = Seq[Option[String]](None).toDF("t")
      .select(native(col("t")).as("n"), conv(col("t")).as("c")).head()
    assert(r.getSeq[String](0) == Seq(""))
    assert(r.getSeq[String](0) == r.getSeq[String](1))
  }

  test("interpreted path == codegen path (codegen-off parity)") {
    val expect = Tables.documents(spark, sf)
      .select(col("doc_id"), native(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val got = Tables.documents(spark, sf)
        .select(col("doc_id"), native(col("text")).as("sh"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      assert(got == expect)
    }
  }

  test("plans as the bare native call — no ArrayTransform fallback, " +
      "whole-stage codegen intact through the explode") {
    val df = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(native(col("text"))).as("sh"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("shingles3"), s"native expression missing:\n$p")
    assert(!p.contains("transform("), s"HOF transform survived:\n$p")
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("*("),
      "shingles3 broke whole-stage codegen")
  }

  test("registry route: shingles3(col) callable from SQL text; wrong " +
      "arity rejected with a named error") {
    Shingles3Expr.register(spark)
    val r = spark.sql("SELECT shingles3('a b c d') AS sh")
      .head().getSeq[String](0)
    assert(r == Seq("a b c", "b c d"))
    val bad = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT shingles3()").collect()
    }
    assert(bad.getMessage.contains("shingles3"), bad.getMessage)
  }
}
