package graft

import org.apache.spark.sql.functions._

import graft.ops.Scalars

/** The native rolling-hash expression must be BIT-IDENTICAL to the
  * declarative HOF form it accelerates (same md5-hex-60-bit token hash,
  * same mod-P fold, same Spark split-limit(-1) tokenization) — on real
  * data and on every split edge the two implementations could diverge on.
  */
class RollingHashExprSpec extends SparkSpec {
  import spark.implicits._

  private val P = Scalars.HashP

  private def hofForm(c: org.apache.spark.sql.Column) =
    aggregate(
      transform(split(c, " "), w => Scalars.tokenHash(w) % P),
      lit(0L), (h, x) => (h * lit(31L) + x) % P)

  test("native == HOF fold on the full documents table") {
    val both = Tables.documents(spark, sf)
      .select(col("doc_id"),
        Scalars.rollingHash(col("text")).as("native"),
        hofForm(col("text")).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
    assert(both.count() > 0)
  }

  test("split-semantics edges: empty text, leading/trailing/adjacent " +
      "spaces, single token, null") {
    val edges = Seq("", " ", "a", "a b", " a", "a ", "a  b", "  ", "a b ")
      .toDF("text")
    val both = edges.select(col("text"),
      Scalars.rollingHash(col("text")).as("native"),
      hofForm(col("text")).as("hof"))
    both.collect().foreach { r =>
      assert(r.getLong(1) == r.getLong(2),
        s"divergence on '${r.getString(0).replace(" ", "_")}'")
    }
    // null-safe like any UnaryExpression
    val n = Seq[Option[String]](None).toDF("text")
      .select(Scalars.rollingHash(col("text"))).head()
    assert(n.isNullAt(0))
  }

  test("q70b plans the native expression inside codegen, no ScalaUDF") {
    val df = Queries.byName("q70b_rolling_hash_native").build(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("rolling_hash"), s"native expression missing:\n$p")
    assert(!p.contains("ScalaUDF"), s"fell back to a UDF tier:\n$p")
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("*("),
      "q70b left whole-stage codegen")
  }
}
