package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning,
  RangePartitioning}
import org.apache.spark.sql.execution.MapPartitionsExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}

import graft.ops.{GlobalRank, Materialize}

/** Distributed per-group ranking / exact percentiles must be value-
  * identical to the single-reducer forms they replace (window row_number;
  * TypedImperative percentile()) — including odd/even group sizes,
  * single-element groups, and duplicate values.
  */
class GlobalRankSpec extends SparkSpec {

  private def sample = {
    import spark.implicits._
    // deterministic pseudo-random doubles, several group sizes incl. n=1,
    // plus exact duplicates inside group "b"
    val rows =
      (1 to 101).map(i => ("a", (i * 37 % 101) + 0.25)) ++
        (1 to 40).map(i => ("b", (i % 7).toDouble)) ++
        Seq(("c", 42.0))
    rows.toDF("g", "v").repartition(7)
  }

  test("perGroupRank equals window row_number - 1 on every group") {
    val ranked = GlobalRank.prefixSum(sample, Seq("g"), Seq(col("v")),
        lit(1L))._1
      .select(col("g"), col("v"), col("before").as("rank"))
    val expected = sample
      .withColumn("rank",
        row_number().over(Window.partitionBy("g").orderBy("v")) - 1)
      .select(col("g"), col("v").cast("double").as("v"),
        col("rank").cast("long").as("rank"))
    // ties may be ordered either way between the two forms; compare the
    // (g, v, rank) multiset — equal values swapping ranks is still equal
    assert(ranked.exceptAll(expected).count() == 0)
    assert(expected.exceptAll(ranked).count() == 0)
  }

  test("prefixSum equals the window cumulative sum on any partitioning") {
    import spark.implicits._
    val rows = (1 to 257).map(i => (i.toLong * 3 + 1, (i * 17 % 23).toLong))
    val df = rows.toDF("k", "v").repartition(11)
    val got = GlobalRank.prefixSum(df, Nil, Seq(col("k")), col("v"))._1
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    var run = 0L
    val exp = rows.sortBy(_._1).map { case (k, v) =>
      val r = (k, v, run); run += v; r
    }
    assert(got.toSeq == exp)
  }

  /** `df` with `before`: sum(w) over the group's rows up to this one in
    * `order`, minus w — the window definition of `prefixSum`. */
  private def windowBefore(df: DataFrame, group: Seq[String],
      order: Seq[String]): DataFrame = {
    val frame = Window.partitionBy(group.map(col): _*)
      .orderBy(order.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("before", sum("w").over(frame) - col("w"))
  }

  /** `prefixSum(df, group, order, w)` against its window definition:
    * `before` = sum(w) over the group's rows up to this one, minus w;
    * `totals` = the group-by sum. Compared as multisets, so rows of one
    * group tied on `order` must be equal rows (their tie order is
    * arbitrary).
    */
  private def assertWindowEqual(df: DataFrame, group: Seq[String],
      order: Seq[String]): Unit = {
    val (rows, totals) =
      GlobalRank.prefixSum(df, group, order.map(col), col("w"))
    val expected = windowBefore(df, group, order)
    assert(rows.schema.fields.toSeq ==
      df.schema.fields.toSeq :+ StructField("before", LongType, false),
      rows.schema.treeString)
    assert(rows.exceptAll(expected).isEmpty && expected.exceptAll(rows).isEmpty,
      s"got ${rows.collect().toSeq}\nwant ${expected.collect().toSeq}")
    val sums = df.groupBy(group.map(col): _*).agg(sum("w").as("total"))
    assert(totals.exceptAll(sums).isEmpty && sums.exceptAll(totals).isEmpty,
      s"totals ${totals.collect().toSeq}\nwant ${sums.collect().toSeq}")
  }

  test("prefixSum equals the window sum minus the weight on degenerate " +
      "inputs: empty, one row, all tied, zero weights, one group over 11 " +
      "partitions, and the global form") {
    import spark.implicits._
    def frame(rows: Seq[(String, Long, Long)]) =
      rows.toDF("g", "k", "w").repartition(3)
    val grouped = Seq("g")
    assertWindowEqual(frame(Nil), grouped, Seq("k"))
    assertWindowEqual(frame(Nil), Nil, Seq("k"))
    assertWindowEqual(frame(Seq(("a", 5L, 7L))), grouped, Seq("k"))
    assertWindowEqual(frame(Seq(("a", 5L, 7L))), Nil, Seq("k"))
    val tied = (1 to 40).map(i => (if (i % 3 == 0) "a" else "b", 9L, 2L))
    assertWindowEqual(frame(tied), grouped, Seq("k"))
    assertWindowEqual(frame(tied.map(t => ("a", t._2, t._3))), Nil, Seq("k"))
    val zeros = (1 to 30).map(i =>
      (s"g${i % 2}", i.toLong, if (i % 4 == 0) 3L else 0L))
    assertWindowEqual(frame(zeros), grouped, Seq("k"))
    assertWindowEqual(frame(zeros.map(t => (t._1, t._2, 0L))), grouped,
      Seq("k"))
    val mixed = (1 to 300).map(i =>
      (s"g${i % 4}", (i * 7919 % 1009).toLong, (i % 13).toLong))
    assertWindowEqual(frame(mixed), Nil, Seq("k"))
    assertWindowEqual(frame(mixed), grouped, Seq("k"))
    withConf("spark.sql.shuffle.partitions" -> "11",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val one = frame((1 to 500).map(i =>
        ("only", (i * 37 % 500).toLong, (i % 7 + 1).toLong)))
      val rows = GlobalRank.prefixSum(one, grouped, Seq(col("k")),
        col("w"))._1
      val filled = rows.rdd.mapPartitions(it => Iterator(it.size))
        .collect().count(_ > 0)
      assert(filled == 11, s"the group filled $filled partitions, not 11")
      assertWindowEqual(one, grouped, Seq("k"))
    }
  }

  test("prefixSum treats a null group as one group when it spans several " +
      "range partitions") {
    import spark.implicits._
    withConf("spark.sql.shuffle.partitions" -> "6",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val df = ((1 to 400).map(i =>
          (Option.empty[String], (i * 37 % 400).toLong, (i % 5 + 1).toLong)) ++
        (1 to 80).map(i => (Some(s"g${i % 2}"), i.toLong, 2L)))
        .toDF("g", "k", "w").repartition(3)
      val rows = GlobalRank.prefixSum(df, Seq("g"), Seq(col("k")),
        col("w"))._1
      val filled = rows.rdd
        .mapPartitions(it => Iterator(it.exists(_.isNullAt(0))))
        .collect().count(identity)
      assert(filled >= 3, s"the null group filled $filled partitions")
      assertWindowEqual(df, Seq("g"), Seq("k"))
    }
  }

  test("ranks over (sig, doc_id) with sig >= 2^22 and doc_id >= 2^31 " +
      "equal row_number() - 1") {
    import spark.implicits._
    val rows = (1 to 200).map(i => (s"s${i % 3}",
      (1L << 22) + i * 31 % 17, (1L << 31) + i * 104729L))
    val df = rows.toDF("source", "sig", "doc_id").repartition(5)
    val got = GlobalRank.prefixSum(df, Seq("source"),
        Seq(col("sig"), col("doc_id")), lit(1L))._1
      .withColumnRenamed("before", "rank")
    val expected = df.withColumn("rank", (row_number().over(
      Window.partitionBy("source").orderBy("sig", "doc_id")) - 1)
      .cast("long"))
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test("exactPercentiles matches Spark's percentile() bit-for-bit") {
    val got = GlobalRank.exactPercentiles(
      sample, col("g"), col("v"), Seq(0.25, 0.5, 0.75, 0.99))
      .orderBy("g", "q")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val exp = sample.groupBy("g")
      .agg(expr("percentile(v, array(0.25, 0.5, 0.75, 0.99))").as("ps"))
      .orderBy("g")
      .collect().flatMap { r =>
        val g = r.getString(0)
        r.getSeq[Double](1).zip(Seq(0.25, 0.5, 0.75, 0.99))
          .map { case (p, q) => (g, q, p) }
      }
    assert(got.toSeq == exp.toSeq.sortBy(t => (t._1, t._2)))
  }

  private val levels = Seq(500000, 900000, 990000)

  /** Reference semantics in plain Scala: smallest v whose inclusive
    * cumulative weight reaches ceil-free q_ppm·W / 1e6. */
  private def bruteWq(rows: Seq[(String, Double, Long)]) =
    rows.groupBy(_._1).flatMap { case (g, rs) =>
      val sorted = rs.map(t => (t._2, t._3)).sortBy(_._1)
      val total = sorted.map(_._2).sum
      levels.map { q =>
        var cum = 0L
        val v = sorted.find { case (_, w) =>
          cum += w; BigInt(cum) * 1000000 >= BigInt(q) * total
        }.get._1
        (g, q, v)
      }
    }.toSeq.sortBy(t => (t._1, t._2))

  test("weightedQuantiles matches the brute-force cumulative definition " +
      "on mixed weights, duplicates, and a single-row group") {
    import spark.implicits._
    val rows =
      (1 to 60).map(i => ("a", ((i * 29) % 31).toDouble, (i % 5 + 1).toLong)) ++
        (1 to 25).map(i => ("b", (i % 4).toDouble, (i * 13 % 7 + 1).toLong)) ++
        Seq(("c", 7.5, 3L))
    val got = GlobalRank.weightedQuantiles(
      rows.toDF("g", "v", "w").repartition(7),
      col("g"), col("v"), col("w"), levels)
      .orderBy("g", "q_ppm").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDouble(2)))
    assert(got.toSeq == bruteWq(rows), s"got ${got.toSeq}")
  }

  test("weightedQuantiles: weight k behaves exactly like k repeated rows") {
    import spark.implicits._
    val weighted = Seq(("g", 1.0, 3L), ("g", 2.0, 1L), ("g", 5.0, 6L))
    val exploded = weighted.flatMap { case (g, v, w) =>
      Seq.fill(w.toInt)((g, v, 1L))
    }
    val a = GlobalRank.weightedQuantiles(weighted.toDF("g", "v", "w"),
      col("g"), col("v"), col("w"), levels)
      .orderBy("q_ppm").collect().map(r => (r.getInt(1), r.getDouble(2)))
    val b = GlobalRank.weightedQuantiles(exploded.toDF("g", "v", "w"),
      col("g"), col("v"), col("w"), levels)
      .orderBy("q_ppm").collect().map(r => (r.getInt(1), r.getDouble(2)))
    assert(a.toSeq == b.toSeq, s"weighted ${a.toSeq} != exploded ${b.toSeq}")
  }

  test("weightedQuantiles boundary: exact threshold equality is included " +
      "(cumW·1e6 == q_ppm·W selects the crossing value, not the next)") {
    import spark.implicits._
    // W = 10; at q = 0.5: v=1 carries cum 5, 5e6 >= 5e6 → median is 1
    val rows = Seq(("g", 1.0, 5L), ("g", 9.0, 5L))
    val got = GlobalRank.weightedQuantiles(rows.toDF("g", "v", "w"),
      col("g"), col("v"), col("w"), Seq(500000))
      .collect().map(r => r.getDouble(2))
    assert(got.toSeq == Seq(1.0), got.toSeq)
  }

  private val spreadConf = Seq("spark.sql.shuffle.partitions" -> "4",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false")

  /** n rows in 3 groups, keys unique per group, weights 1..5. */
  private def spread(n: Int, keyShift: Long = 0L): DataFrame = {
    import spark.implicits._
    (1 to n).map(i =>
        (s"g${i % 3}", (i * 37 % n).toLong + keyShift, (i % 5 + 1).toLong))
      .toDF("g", "k", "w").repartition(3)
  }

  /** Non-empty partitions of `df`'s range partitioning on (g, k), the
    * one prefixSum cuts under the current conf. */
  private def filled(df: DataFrame): Int =
    df.repartitionByRange(col("g"), col("k")).rdd
      .mapPartitions(it => Iterator(it.nonEmpty)).collect().count(identity)

  /** Runs `check`: true when it passes, false when prefixSum raised its
    * error. A wrong row fails the assertion inside `check`. */
  private def equalOrRaised(check: => Unit): Boolean =
    try { check; true } catch {
      case e: Exception if Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).exists {
            case t: SparkThrowable =>
              t.getCondition == "USER_RAISED_EXCEPTION"
            case _ => false
          } => false
    }

  test("prefixSum under a Union takes each row's partition id from its " +
      "range partition") {
    withConf(spreadConf: _*) {
      val one = spread(1)
      val many = spread(300, keyShift = 1000L)
      assert(filled(many) >= 3)
      for ((a, b) <- Seq((one, one), (many, many), (one, many))) {
        val got = Seq(a, b).map(df =>
          GlobalRank.prefixSum(df, Seq("g"), Seq(col("k")), col("w"))._1)
          .reduce(_ union _)
        val expected = Seq(a, b).map(windowBefore(_, Seq("g"), Seq("k")))
          .reduce(_ union _)
        assert(got.exceptAll(expected).isEmpty &&
          expected.exceptAll(got).isEmpty,
          s"got ${got.collect().toSeq}\nwant ${expected.collect().toSeq}")
      }
    }
  }

  test("prefixSum is exact or raises, never wrong, with exchange reuse " +
      "off, AQE off, and both") {
    val reuseOff = "spark.sql.exchange.reuse" -> "false"
    val aqeOff = "spark.sql.adaptive.enabled" -> "false"
    withConf(spreadConf: _*) {
      // over 80 rows per input partition: RangePartitioner samples them,
      // so two unshared exchanges cut at different bounds
      val df = spread(3000)
      assert(filled(df) >= 3)
      for (kvs <- Seq(Seq(reuseOff), Seq(aqeOff), Seq(reuseOff, aqeOff)))
        withConf(kvs: _*) {
          val equal =
            equalOrRaised(assertWindowEqual(df, Seq("g"), Seq("k")))
          info(s"${kvs.mkString(", ")}: ${if (equal) "equal" else "raised"}")
          // with reuse on, the one range exchange is shared: exact
          if (!kvs.contains(reuseOff)) assert(equal)
        }
    }
  }

  test("prefixSum over a localCheckpointed scan with an output " +
      "partitioning or ordering is exact and reads one range exchange") {
    withConf(spreadConf: _*) {
      // checkpointed with AQE off, an aggregate keeps its hash partitioning
      // (a value table cut with AQE off) and a sort its range
      // partitioning and ordering; RDDScanExec keeps their attribute ids
      // in its canonical form
      val (hashed, ordered) =
        withConf("spark.sql.adaptive.enabled" -> "false") {
        (Materialize.cut(
            spread(3000).groupBy("g", "k").agg(sum("w").as("w"))),
          Materialize.cut(spread(3000).orderBy("g", "k")))
      }
      assert(hashed.queryExecution.executedPlan.outputPartitioning
        .isInstanceOf[HashPartitioning])
      assert(ordered.queryExecution.executedPlan.outputOrdering.nonEmpty)
      for (df <- Seq(hashed, ordered)) {
        assert(filled(df) >= 3)
        for (aqe <- Seq("true", "false"))
          withConf("spark.sql.adaptive.enabled" -> aqe) {
            assertWindowEqual(df, Seq("g"), Seq("k"))
          }
        assert(exchangeReads(
          GlobalRank.prefixSum(df, Seq("g"), Seq(col("k")), col("w"))._1)(
          _.outputPartitioning.isInstanceOf[RangePartitioning]) == Seq(2))
      }
    }
  }

  test("a second build of prefixSum runs 0 jobs") {
    def build() = {
      val (rows, totals) = GlobalRank.prefixSum(
        Tables.orders(spark, sf).select("o_custkey", "o_orderkey"),
        Seq("o_custkey"), Seq(col("o_orderkey")), lit(1L))
      rows.join(broadcast(totals), "o_custkey")
    }
    build()
    assert(jobsAndStagesOf(build())._1 == 0)
  }

  test("prefixSum's two passes read one range exchange, and its summary " +
      "pass runs once for the offsets and the totals") {
    withConf(spreadConf: _*) {
      def q = {
        val (rows, totals) =
          GlobalRank.prefixSum(spread(400), Seq("g"), Seq(col("k")), col("w"))
        rows.join(broadcast(totals), "g")
      }
      assert(exchangeReads(q)(
        _.outputPartitioning.isInstanceOf[RangePartitioning]) == Seq(2))
      assert(exchangeReads(q)(e =>
        e.outputPartitioning.isInstanceOf[HashPartitioning] &&
          e.child.exists(_.isInstanceOf[MapPartitionsExec])) == Seq(2))
    }
  }

  test("no .rdd, mapPartitionsWithIndex, .cache() or .persist( under " +
      "src/main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val words = Seq("\\.rdd\\b".r, "mapPartitionsWithIndex".r,
      "\\.cache\\(\\)".r, "\\.persist\\(".r)
    val hits = graft.ops.Nio.walk(root)
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val src = Files.readString(p)
        words.filter(_.findFirstIn(src).isDefined)
          .map(w => s"${root.relativize(p)}: $w")
      }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
