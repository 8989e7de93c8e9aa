package graft

import org.apache.spark.sql.functions._

import graft.ops.Scalars

/** The native token-hash expression must be BIT-IDENTICAL to the
  * declarative (conv ∘ substring ∘ md5) form it replaced under
  * `Scalars.tokenHash` — top 60 bits of the raw md5 digest ARE the
  * first 15 hex digits parsed base-16, and every oracle in the repo
  * replays that value via DuckDB's `('0x' || substr(md5(t),1,15))`.
  * Divergence anywhere (unicode, empty, huge strings, codegen vs
  * interpreted) would silently flip minhash signatures, band keys,
  * hash-sample membership and boilerplate sets across ~40 queries.
  */
class TokenHashExprSpec extends SparkSpec {
  import spark.implicits._

  test("native == conv form on the full documents table (text, tokens, " +
      "shingles)") {
    val docs = Tables.documents(spark, sf)
    // whole-text, per-token, and shingle inputs — the three call shapes
    val whole = docs.select(
      Scalars.tokenHash(col("text")).as("n"),
      Scalars.tokenHashConv(col("text")).as("c"))
    val toks = docs.select(explode(split(col("text"), " ")).as("w"))
      .select(Scalars.tokenHash(col("w")).as("n"),
        Scalars.tokenHashConv(col("w")).as("c"))
    val shingled = docs.select(
      explode(Scalars.shingles3Text(col("text"))).as("sh"))
      .select(Scalars.tokenHash(col("sh")).as("n"),
        Scalars.tokenHashConv(col("sh")).as("c"))
    for (df <- Seq(whole, toks, shingled)) {
      assert(df.filter(col("n") =!= col("c")).count() == 0)
      assert(df.count() > 0)
    }
  }

  test("inside a HOF lambda (the minhash transform shape)") {
    val docs = Tables.documents(spark, sf).limit(50)
    val both = docs.select(
      transform(split(col("text"), " "),
        w => Scalars.tokenHash(w)).as("n"),
      transform(split(col("text"), " "),
        w => Scalars.tokenHashConv(w)).as("c"))
    assert(both.filter(col("n") =!= col("c")).count() == 0)
  }

  test("edges: empty, single space, unicode, long string, null; " +
      "range stays in [0, 2^60)") {
    val edges = Seq("", " ", "é", "naïve café — ünïcödé 中文", "a" * 10000)
      .toDF("t")
      .select(col("t"), Scalars.tokenHash(col("t")).as("n"),
        Scalars.tokenHashConv(col("t")).as("c"))
    edges.collect().foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"divergence on '${r.get(0)}'")
      assert(r.getLong(1) >= 0L && r.getLong(1) < (1L << 60))
    }
    val n = Seq[Option[String]](None).toDF("t")
      .select(Scalars.tokenHash(col("t"))).head()
    assert(n.isNullAt(0))
  }

  test("interpreted path == codegen path (codegen-off parity)") {
    val expect = Tables.documents(spark, sf)
      .select(col("doc_id"), Scalars.tokenHash(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val got = Tables.documents(spark, sf)
        .select(col("doc_id"), Scalars.tokenHash(col("text")).as("h"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expect)
    }
  }

  test("plans as the bare native call — no ScalaUDF, codegen intact") {
    val df = Tables.documents(spark, sf)
      .select(Scalars.tokenHash(col("text")).as("h"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("token_hash"), s"native expression missing:\n$p")
    assert(!p.contains("ScalaUDF"), s"fell back to a UDF tier:\n$p")
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("*("),
      "token_hash broke whole-stage codegen")
  }

  test("registry route: token_hash(col) callable from SQL text") {
    val r = extSpark.sql("SELECT token_hash('abc') AS h").head().getLong(0)
    val e = Seq("abc").toDF("t")
      .select(Scalars.tokenHashConv(col("t"))).head().getLong(0)
    assert(r == e)
  }

  test("registry route rejects wrong arity with a named error, not a " +
      "bare NoSuchElementException / silent arg drop") {
    val zero = intercept[org.apache.spark.sql.AnalysisException] {
      extSpark.sql("SELECT token_hash()").collect()
    }
    assert(zero.getMessage.contains("token_hash"), zero.getMessage)
    val two = intercept[org.apache.spark.sql.AnalysisException] {
      extSpark.sql("SELECT token_hash('a', 'b')").collect()
    }
    assert(two.getMessage.contains("token_hash"), two.getMessage)
  }
}
