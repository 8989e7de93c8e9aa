package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Relational-operator invariants on the sf0.001 testdata (SURVEY.md §5 #3):
  * set-algebra identities, pagination completeness, join consistency.
  */
class RelationalSpec extends SparkSpec {

  test("anti ∪ semi = identity on customers") {
    val c = Tables.customer(spark, sf)
    val o = Tables.orders(spark, sf)
    val anti = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
    val semi = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
    assert(anti.count() + semi.count() == c.count())
    assert(anti.select("c_custkey").intersect(semi.select("c_custkey")).count() == 0)
  }

  test("limit/offset pages reassemble the sorted whole (O1/O2 determinism)") {
    val o = Tables.orders(spark, sf)
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .select("o_orderkey")
    val total = o.count().toInt
    val pageSize = 500
    val pages = (0 until (total + pageSize - 1) / pageSize).flatMap { p =>
      Tables.orders(spark, sf)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .offset(p * pageSize).limit(pageSize)
        .select("o_orderkey").collect().map(_.getLong(0))
    }
    val whole = o.collect().map(_.getLong(0)).toSeq
    assert(pages == whole)
  }

  test("rollup row counts: base groups + per-key subtotals + grand total") {
    val li = Tables.lineitem(spark, sf)
    val base = li.groupBy("l_returnflag", "l_linestatus").count().count()
    val perKey = li.select("l_returnflag").distinct().count()
    val rollup = Queries.byName("q09_rollup").build(spark, sf).count()
    assert(rollup == base + perKey + 1)
  }

  test("left join preserves all left rows; inner join row count matches semi-weighted") {
    val c = Tables.customer(spark, sf)
    val o = Tables.orders(spark, sf)
    val left = c.join(o, col("c_custkey") === col("o_custkey"), "left")
    val inner = c.join(o, col("c_custkey") === col("o_custkey"))
    val noOrder = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
    assert(left.count() == inner.count() + noOrder.count())
  }

  test("except + intersect partition the left set") {
    val ck = Tables.customer(spark, sf).select("c_custkey")
    val ok = Tables.orders(spark, sf).select(col("o_custkey").as("c_custkey"))
    assert(ck.except(ok).count() + ck.intersect(ok).count() == ck.distinct().count())
  }

  test("union all concatenates with duplicates preserved (U1)") {
    val o = Tables.orders(spark, sf).select("o_orderkey")
    assert(o.unionByName(o).count() == 2 * o.count())
  }

  test("range join q15 matches arithmetic expectation") {
    // nations have regionkeys 0..4, 5 per region; region keys 0..4.
    // count for region r = 5 * r (nations with key < r).
    val rows = Queries.byName("q15_range_join").build(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val regionKey = Tables.region(spark, sf).collect()
      .map(r => (r.getString(1), r.getInt(0))).toMap
    rows.foreach { case (name, cnt) =>
      assert(cnt == 5L * regionKey(name), s"region $name")
    }
  }

  test("broadcast lookup join equals shuffle join results (J1 plan-independence)") {
    val o = Tables.orders(spark, sf)
    val c = Tables.customer(spark, sf)
    val b = o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment").count()
    val s2 = o.join(c.hint("merge"), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment").count()
    assert(b.orderBy("c_mktsegment").collect().toSeq ==
      s2.orderBy("c_mktsegment").collect().toSeq)
  }

  test("q60 over an empty lineitem returns the grand-total row alone") {
    val dir = java.nio.file.Files.createTempDirectory("q60empty").toString
    Tables.lineitem(spark, sf).limit(0).write
      .parquet(s"$dir/lineitem.parquet")
    val rows = Queries.byName("q60_grouping_sets").build(spark, dir).collect()
    assert(rows.toSeq == Seq(Row("ALL", "ALL", 0L, null)))
  }
}
