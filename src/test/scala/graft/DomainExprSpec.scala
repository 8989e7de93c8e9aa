package graft

import org.apache.spark.sql.functions._

import graft.ops.{DomainParse, RegisteredDomainExpr, Scalars}

/** Native Catalyst expression tier for the PSL domain parse: same semantics
  * as `DomainParse.registeredDomain`, but codegen-participating; reached
  * from DataFrames as `Scalars.registeredDomainPsl` and from SQL text as
  * `registered_domain` in a GraftExtensions session.
  */
class DomainExprSpec extends SparkSpec {
  import spark.implicits._

  test("native registered_domain matches DomainParse.registeredDomain " +
      "on all cases") {
    val fqdns = Seq("shop.example.co.uk", "www.foo.com", "a.b.c.example.com.au",
      "foo.io", "localhost", "", "x.co")
    val df = fqdns.toDF("fqdn")
      .withColumn("viaExpr", Scalars.registeredDomainPsl(col("fqdn")))
    assert(df.collect().forall(r =>
      r.getString(1) == DomainParse.registeredDomain(r.getString(0))))
  }

  test("registered_domain works from pure SQL and handles NULL") {
    val r = extSpark.sql(
      "SELECT registered_domain('shop.example.co.uk') AS rd, " +
        "registered_domain(CAST(NULL AS STRING)) AS rdnull").collect().head
    assert(r.getString(0) == "example.co.uk")
    assert(r.isNullAt(1))
  }

  test("native expression stays inside whole-stage codegen") {
    val df = Tables.supplier(spark, sf)
      .select(Scalars.registeredDomainPsl(concat(lit("www.sup"),
        col("s_suppkey"), lit(".example.co.uk"))).as("rd"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"expression fell out of codegen:\n$plan")
    // every fqdn reduces to the same registered domain
    val d = df.distinct().collect()
    assert(d.length == 1 && d.head.getString(0) == "example.co.uk")
  }

  test("generated code COMPILES (no silent interpreted fallback)") {
    // WholeStageCodegenExec swallows Janino failures and re-runs the stage
    // interpreted — the `*(` plan gate above cannot see that. Compiling a
    // projection through the generator directly throws on any codegen
    // regression (this caught the missing-static-forwarder bug: a
    // companion helper named `eval` clashes with UnaryExpression.eval and
    // gets no Java static, breaking the generated call).
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val proj = GenerateUnsafeProjection.generate(Seq(
      RegisteredDomainExpr(BoundReference(0, StringType, nullable = true))))
    val out = proj(InternalRow(UTF8String.fromString("shop.example.co.uk")))
    assert(out.getUTF8String(0).toString == "example.co.uk")
  }
}
