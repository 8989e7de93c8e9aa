package graft

import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec}
import org.apache.spark.sql.execution.exchange.REPARTITION_BY_COL

/** Physical-plan quality gates (the "would this survive 100×" checks the
  * builder prompt demands): column pruning, filter pushdown, broadcast
  * joins for dims, partial aggregation, whole-stage codegen. Encoded as
  * tests so a regression in plan shape fails the build, not just the bench.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    Queries.byName(name).build(spark, sf)
      .queryExecution.executedPlan.toString

  /** `name`'s plan with AQE off: its file scans, and the reads of each
    * shuffle exchange above a scan (see exchangeReads). */
  private def scansAndReads(name: String): (Int, Seq[Int]) = {
    val reads = exchangeReads(Queries.byName(name).build(spark, sf))(
      _.child.exists(_.isInstanceOf[FileSourceScanExec]))
    withConf("spark.sql.adaptive.enabled" -> "false") {
      (Queries.byName(name).build(spark, sf).queryExecution.executedPlan
        .collect { case s: FileSourceScanExec => s }.size, reads)
    }
  }

  /** Generate operators in `name`'s plan with AQE off, where a reused
    * exchange stands for its whole subtree. */
  private def generates(name: String): Int =
    withConf("spark.sql.adaptive.enabled" -> "false") {
      Queries.byName(name).build(spark, sf).queryExecution.executedPlan
        .collect { case g: GenerateExec => g }.size
    }

  /** Reads of each `repartitionByRange` exchange in `name`'s plan (see
    * exchangeReads); an orderBy's range exchange is not counted. */
  private def rangeReads(name: String): Seq[Int] =
    exchangeReads(Queries.byName(name).build(spark, sf))(e =>
      e.outputPartitioning.isInstanceOf[RangePartitioning] &&
        e.shuffleOrigin == REPARTITION_BY_COL)

  test("q01 scan prunes to exactly the projected columns") {
    val p = plan("q01_scan_project")
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_extendedprice"), "unprojected column read")
    assert(!p.contains("l_shipdate"), "unprojected column read")
  }

  test("q02 pushes range predicates into the parquet scan") {
    val p = plan("q02_filter_range")
    assert(p.contains("PushedFilters"))
    assert(p.contains("GreaterThan") || p.contains("GreaterThanOrEqual"),
      s"no pushed range filter in:\n$p")
  }

  test("q19b full-PSL parse runs the native expression, not a ScalaUDF") {
    val df = Queries.byName("q19b_domain_parse_psl").build(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("ScalaUDF") && !p.toLowerCase.contains("batchevalpython"),
      s"PSL parse fell back to a UDF tier:\n$p")
    assert(p.contains("registered_domain"),
      s"native registered_domain expression missing from plan:\n$p")
    // the fqdn is synthesized from s_suppkey alone: the supplier scan must
    // prune to that single column
    assert(!p.contains("s_name") && !p.contains("s_acctbal"),
      s"supplier scan reads unprojected columns:\n$p")
    // and it must stay inside whole-stage codegen (the expression's point)
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("*("))
  }

  test("AQE splits a hot join key at runtime — the boundary where manual " +
    "salting stops being needed (SCALE.md joins note)") {
    // A single hot key in a shuffled SMJ: AQE's OptimizeSkewedJoin chunks
    // the oversized reduce partition by map-output ranges and duplicates
    // the other side per chunk — no salting required. ops/Skew stays for
    // the shapes AQE cannot touch: skewed AGGREGATION (a group's final agg
    // must single-task without two-phase salting) and pre-shuffle load
    // bounds. Thresholds are shrunk so test-sized data crosses them; the
    // mechanism is identical at production sizes.
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2") {
      import org.apache.spark.sql.functions.{col, lit, lpad, when}
      val fact = spark.range(0, 200000).toDF("id")
        .withColumn("k", when(col("id") < 150000, lit(7L)).otherwise(col("id")))
        .withColumn("pad", lpad(col("id").cast("string"), 64, "x"))
      val dim = spark.range(0, 1000).toDF("k2")
        .withColumn("attr", col("k2") * 2)
      val j = fact.join(dim, col("k") === col("k2"))
      j.collect() // AQE finalizes the adaptive plan in place
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE did not split the hot key (skew=true missing):\n$p")
    }
  }

  test("q10 dimension lookup join broadcasts the dimension side") {
    assert(plan("q10_lookup_join").contains("BroadcastHashJoin"))
  }

  test("q94 star join mixes strategies: dim broadcasts, fact⋈fact stays SMJ") {
    val p = plan("q94_star_join")
    assert(p.contains("BroadcastHashJoin"),
      s"customer dim side not broadcast:\n$p")
    assert(p.contains("SortMergeJoin"),
      s"lineitem⋈orders fact edge not sort-merge:\n$p")
    // star rollup still combines map-side before the group-by shuffle
    assert(p.contains("partial_"), s"no partial aggregation in:\n$p")
  }

  test("q113 deep join: every dim edge broadcasts, exactly one SMJ on " +
    "the reduced fact⋈fact edge, date filter pushed to the orders scan") {
    val p = plan("q113_deep_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4,
      s"dim chain (region/nation/supplier/customer) not all broadcast:\n$p")
    assert("SortMergeJoin".r.findAllIn(p).size == 1,
      s"expected exactly one fact⋈fact SMJ (lineitem⋈orders):\n$p")
    assert(p.contains("PushedFilters") && p.contains("o_orderdate"),
      s"order-date filter did not reach the scan:\n$p")
    assert(p.contains("partial_"), s"no partial aggregation in:\n$p")
  }

  test("q13b bucketed join runs with zero exchanges end-to-end") {
    val df = Queries.byName("q13b_bucketed_join").build(spark, sf)
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString
    // co-located: no hash exchange anywhere — not on either join side
    // (bucketed scans) and not before the order-grain agg (it reuses the
    // bucket partitioning); the only repartitioning is the final
    // rangepartitioning for the verification ORDER BY
    assert(!p.contains("hashpartitioning"),
      s"bucketed join plan still shuffles:\n$p")
    assert(p.contains("SortMergeJoin"),
      s"bucketed fact⋈fact not sort-merge:\n$p")
  }

  test("q11/q12 existence checks use broadcast anti/semi joins on small dims") {
    assert(plan("q11_anti_join").contains("LeftAnti"))
    assert(plan("q12_semi_join").contains("LeftSemi"))
  }

  test("q06 aggregates partially before the shuffle (map-side combine)") {
    val p = plan("q06_group_measures")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"no partial aggregation in:\n$p")
  }

  test("q38 wide derive stays inside whole-stage codegen") {
    // AQE reveals codegen spans only in the final (executed) plan
    val df = Queries.byName("q38_wide_derive").build(spark, sf)
    df.collect()
    // codegen'd operators render with the "*(n)" prefix in the final plan
    assert(df.queryExecution.executedPlan.toString.contains("*("))
  }

  test("q41 broadcasts the query vectors, not the corpus") {
    val p = plan("q41_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
  }

  test("q161 hard negatives broadcast the anchor set; corpus side is " +
      "never shuffled before the label-disequality join") {
    val p = plan("q161_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"anchor set not broadcast:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"),
      s"negative mining degenerated to a cross join:\n${p.take(800)}")
  }

  test("q167 pagerank: equi-join iterations over the checkpointed edge " +
      "table, top-20 via TakeOrdered, nothing pairwise") {
    val df = Queries.byName("q167_pagerank_canon").build(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"an iteration degenerated to a non-equi join:\n${p.take(800)}")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 planned as a global sort:\n${p.take(800)}")
    assert(p.contains("partial"),
      s"no map-side combine in the contribution aggs:\n${p.take(800)}")
  }

  test("q53 band join is an equi-join (no nested loop over pairs)") {
    val p = plan("q53_minhash_band_pairs")
    assert(!p.contains("CartesianProduct"), "pair search degenerated to cross join")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"))
  }

  test("q188 jdbc topics: predicates push INTO the database, the scan " +
    "parallelizes over key ranges, and the dimension broadcasts") {
    val p = plan("q188_jdbc_topics")
    assert(p.contains("JDBCRelation"), s"no jdbc scan in plan:\n$p")
    // status/tracked/freshness filters must ship to the database as SQL
    // (the jdbc analog of parquet pushdown), not run in Spark after a
    // full-table fetch. The toString truncates the filter list, so pin
    // the two predicates that render before the cut.
    assert(p.contains("PushedFilters") &&
      p.toLowerCase.contains("equalto(tracked,true)") &&
      p.toLowerCase.contains("last_update_timestamp"),
      s"topic predicates not pushed into the database:\n$p")
    // the range-partitioned parallel read (one BETWEEN query per
    // partition) replaces driver-side LIMIT/OFFSET paging
    assert(p.contains("numPartitions=4"),
      s"jdbc scan is not range-partitioned:\n$p")
    // dimension-sized topics broadcast; the customer fact never
    // shuffles on the join key
    assert(p.contains("BroadcastHashJoin"),
      s"topics dim did not broadcast:\n$p")
  }

  test("q190 sequence match: one partial+final agg builds sequences, " +
    "no window, no join") {
    val p = plan("q190_sequence_match")
    assert(!p.contains("Window"), s"sequence build leaked a window:\n$p")
    assert(!p.contains("Join"), s"unexpected join:\n$p")
    // collect_list aggregates partially (ObjectHashAggregate partial)
    assert(p.contains("ObjectHashAggregate") && p.contains("partial_"),
      s"sequence agg does not combine map-side:\n$p")
  }

  test("q191 cdc chunks: documents scan prunes to the three used columns") {
    val p = plan("q191_cdc_chunks")
    assert(p.contains("ReadSchema"))
    assert(!p.contains("n_chars") && !p.contains("lang"),
      s"unprojected documents columns read:\n$p")
    // the lag/boundary windows must be per-doc, never global — covered
    // by the registry-wide un-partitioned-window gate below, which scans
    // every declared query including this one
  }

  test("q193 interleave derives ranks without any window operator") {
    val p = plan("q193_interleaved_mix")
    assert(!p.contains("Window"),
      s"stride interleave fell back to a window rank:\n$p")
  }

  test("q23 running total: one range exchange over the order rows, none " +
    "between the Window and the output, and the rows come out ordered") {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec,
      AdaptiveSparkPlanHelper, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    object Aqe extends AdaptiveSparkPlanHelper
    val df = Queries.byName("q23_running_total").build(spark, sf)
    val rows = df.collect().map(r => (r.getLong(0), r.getDate(2).toLocalDate.toEpochDay,
      r.getLong(1))).toSeq
    assert(rows.nonEmpty && rows == rows.sortBy(identity),
      "rows are not in (o_custkey, o_date, o_orderkey) order")
    val p = df.queryExecution.executedPlan // the final adaptive plan
    val shuffles = Aqe.collect(p) { case e: ShuffleExchangeLike => e }
    assert(shuffles.size == 1 &&
      shuffles.head.outputPartitioning.isInstanceOf[RangePartitioning],
      s"not one range exchange in:\n$p")
    // root → Window: no exchange, stage or shuffle read on the way
    def toWindow(n: SparkPlan): Option[List[SparkPlan]] = n match {
      case w: WindowExec => Some(List(w))
      case _ => n.children.iterator.map(toWindow).collectFirst {
        case Some(path) => n :: path }
    }
    val path = toWindow(Aqe.stripAQEPlan(p)).getOrElse(
      fail(s"no Window in:\n$p"))
    assert(!path.exists(n => n.isInstanceOf[ShuffleExchangeLike] ||
      n.isInstanceOf[QueryStageExec] || n.isInstanceOf[AQEShuffleReadExec]),
      s"a shuffle between the Window and the output in:\n$p")
  }

  test("q31 date-window filter reaches the scan") {
    val p = plan("q31_date_window")
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"),
      s"shipdate filter not pushed:\n$p")
  }

  test("q61 pivot is one partial+final agg (no value-discovery job)") {
    val p = plan("q61_pivot")
    assert(p.contains("partial_"), s"no partial aggregation in:\n$p")
  }

  test("q67 IN-subquery rewrites to a semi join, not a per-row probe") {
    val p = plan("q67_in_subquery")
    assert(p.contains("LeftSemi"), s"IN not decorrelated to semi join:\n$p")
  }

  test("q72 top-bigrams counts partially before the shuffle and bounds the sort") {
    val p = plan("q72_top_bigrams")
    assert(p.contains("partial_count"), s"no map-side combine in:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 materialized a global sort:\n$p")
  }

  test("q83 salted join stays an equi-join on (key, salt)") {
    val p = plan("q83_salted_join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"salted join degenerated to a non-equi join:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"))
  }

  test("q84 high-card top-k prunes per-group rows before the shuffle") {
    // rank<=k over a partitioned window must plan a WindowGroupLimit
    // (map-side per-group pruning): the exchange then carries
    // O(k * n_groups) rows instead of the whole fact table.
    val p = plan("q84_topk_high_card")
    assert(p.contains("WindowGroupLimit"),
      s"no map-side group-limit pruning in:\n$p")
  }

  test("q93 cluster representatives prune map-side (WindowGroupLimit)") {
    val p = plan("q93_cluster_representatives")
    assert(p.contains("WindowGroupLimit"),
      s"no map-side group-limit pruning in:\n$p")
  }

  test("q86 context packing derives its prefix sum without a window") {
    // GlobalRank.prefixSum must keep packing off the single-partition
    // global window (same contract as q33's index)
    val p = plan("q86_token_packing")
    assert(!p.contains("Window"), s"q86 regressed to a window prefix sum:\n$p")
  }

  test("q87 decontamination broadcasts benchmark shingles (no cartesian)") {
    val p = plan("q87_decontaminate")
    assert(!p.contains("CartesianProduct"), s"pairwise shingle match:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"benchmark side not broadcast:\n$p")
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"),
      s"missing semi/anti join shape:\n$p")
  }

  test("q85/q91 documents scans prune the wide text column") {
    // split/upsert need only (doc_id, lang, n_chars): dragging `text`
    // through a 100 TB scan would dominate their cost
    for (q <- Seq("q85_hash_split", "q91_corpus_upsert")) {
      val p = plan(q)
      assert(!p.contains("text:string"), s"$q scan reads text:\n$p")
    }
  }

  test("q91 upsert prunes to one candidate per key before the shuffle") {
    val p = plan("q91_corpus_upsert")
    assert(p.contains("WindowGroupLimit"),
      s"latest-wins merge not map-side pruned:\n$p")
  }

  test("q89 repetition filter counts partially before the shuffle") {
    val p = plan("q89_repetition_filter")
    assert(p.contains("partial_count"), s"no map-side combine in:\n$p")
  }

  test("q88 stratified sample prunes per-stratum before the shuffle") {
    val p = plan("q88_stratified_sample")
    assert(p.contains("WindowGroupLimit"),
      s"no map-side group-limit pruning in:\n$p")
  }

  test("q63 percentiles avoid the buffer-all-values Percentile aggregate") {
    // Spark's percentile() ships every group value to one final reducer —
    // the r2-flagged scale-killer. q63 must stay on the distributed
    // GlobalRank path (range-partitioned ranking, no Percentile operator).
    val p = plan("q63_percentiles")
    assert(!p.contains("percentile("),
      s"q63 regressed to the single-reducer percentile aggregate:\n$p")
  }

  test("q202 weighted quantiles: no Percentile aggregate, no fact-row " +
      "window — range-partition machinery with broadcast target join") {
    val p = plan("q202_weighted_percentiles")
    assert(!p.contains("percentile("),
      s"q202 regressed to a single-reducer percentile aggregate:\n$p")
    assert(!p.contains("windowspecdefinition"),
      s"q202 runs a window over the fact rows — single-task per group " +
        s"at scale:\n$p")
    // one range exchange, read by prefixSum's row and summary passes
    assert(rangeReads("q202_weighted_percentiles") == Seq(2),
      s"GlobalRank's range exchange missing or not reused:\n${p.take(800)}")
    assert(p.contains("BroadcastHashJoin"),
      s"level/total targets not broadcast:\n${p.take(800)}")
  }

  test("typed Aggregators print their class and parameters, not an " +
      "identity hash") {
    import graft.ops._
    val twins = Seq[() => AnyRef](() => new KmvAggregator(64),
      () => new QuantileSampleAggregator(64), () => new UniqUpToAggregator(9),
      () => new CountMinAggregator, () => new SpaceSavingAggregator(32),
      () => new WeightedSpaceSavingAggregator(32))
    for (make <- twins) {
      val (a, b) = (make(), make())
      assert(a.toString == b.toString && a.toString.contains("Aggregator("),
        s"$a vs $b")
    }
    // q106, q214 and q217 run their aggregator in a head() inside the
    // build, so only the other three final plans hold one
    for (q <- Seq("q106_cms_heavy_hitters", "q122_audience_overlap",
        "q126_quantile_sketch", "q214_topk_spacesaving", "q217_topk_weighted",
        "q224_uniq_upto")) {
      val p = Queries.byName(q).build(spark, sf).queryExecution.toString
      assert(!p.contains("Aggregator@"), s"$q:\n$p")
      if (Seq("q122", "q126", "q224").exists(q.startsWith))
        assert(p.contains("Aggregator("), s"$q:\n$p")
    }
  }

  test("q82/q83 salted scans stay pruned (salt must not widen ReadSchema)") {
    // The salt is hash(narrow row-identity subset); hashing the whole row
    // would be equally retry-stable but forces the scan to read every
    // column (ADVICE r02 medium). Gate on wide columns being absent.
    val p82 = plan("q82_salted_agg")
    for (c <- Seq("l_comment", "l_shipinstruct", "l_extendedprice"))
      assert(!p82.contains(c), s"q82 scan widened to $c:\n$p82")
    val p83 = plan("q83_salted_join")
    for (c <- Seq("o_comment", "o_clerk", "o_orderpriority"))
      assert(!p83.contains(c), s"q83 scan widened to $c:\n$p83")
  }

  test("no registered query plans an un-partitioned window (registry-wide)") {
    // A Window with an empty partitionSpec funnels its whole input through
    // one task — the q33 round-1 anti-pattern (VERDICT r01 "What's wrong"
    // #1). Gate every registered query's physical plan. Pre-AQE sparkPlan
    // is a plain tree, so generic traversal sees every WindowExec.
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    import org.apache.spark.sql.execution.{TakeOrderedAndProjectExec,
      GlobalLimitExec}
    // An un-partitioned window is legal ONLY when its input is
    // structurally bounded — proven in the plan itself: a limit operator
    // (TakeOrderedAndProject / GlobalLimit) below the window caps the rows
    // the single task sees (q134's rank-the-top-20 windows), or the window
    // reads a materialized checkpoint (Scan ExistingRDD) of a by-nature
    // tiny table (q142's cumulative yield over an 11-row bin table).
    // r17 audit (VERDICT r16 #5): beyond the structural-boundedness rule,
    // ENUMERATE every query that plans an un-partitioned window and PIN
    // the set — a new fact-row-sized offender now fails this test by
    // name instead of hiding inside the WARN volume. Each pinned entry's
    // boundedness argument, audited this round (value = # un-partitioned
    // WindowExec nodes in the pre-AQE declared plan; the runtime WARN
    // volume in Verify additionally comes from k-sized windows INSIDE
    // checkpointed build phases, which these same arguments cover at
    // their definition sites):
    //   q134_rrf_hybrid (2): rank fusion over TakeOrdered top-20 lists —
    //     limit-bounded.
    //   q142_quality_yield (1): cumulative yield over the checkpointed
    //     11-row bin table (q_fp DIV 100000 ∈ 0..10) — k-sized RDD scan.
    //   q145_dedup_threshold_sweep (1): cumulative sweep over the
    //     checkpointed 21-row threshold-bin table (sim_ppm DIV 50000).
    // q137 and q154 ranked their largest remainders with such a window
    // until that ranking became a sort of the one collected row.
    // Every other registered query (245/248) plans zero un-partitioned
    // windows; fact-row-sized offenders: none.
    val pinned = Map(
      "q134_rrf_hybrid" -> 2,
      "q142_quality_yield" -> 1,
      "q145_dedup_threshold_sweep" -> 1)
    def boundedInput(w: WindowExec): Boolean =
      w.child.collectFirst {
        case l: TakeOrderedAndProjectExec => l: Any
        case l: GlobalLimitExec => l: Any
        case r if r.getClass.getSimpleName == "RDDScanExec" => r: Any
      }.nonEmpty
    val found = scala.collection.mutable.LinkedHashMap[String, Int]()
    Queries.all.foreach { q =>
      val p = q.build(spark, sf).queryExecution.sparkPlan
      p.foreach {
        case w: WindowExec =>
          if (w.partitionSpec.isEmpty)
            found(q.name) = found.getOrElse(q.name, 0) + 1
          assert(w.partitionSpec.nonEmpty || boundedInput(w),
            s"${q.name}: un-partitioned Window over unbounded input " +
              "(single-partition execution)")
        case w: WindowGroupLimitExec =>
          assert(w.partitionSpec.nonEmpty,
            s"${q.name}: un-partitioned WindowGroupLimit")
        case _ =>
      }
    }
    assert(found.toMap == pinned,
      s"un-partitioned-window offender set drifted:\n  got    " +
        s"${found.toSeq.sorted.mkString(", ")}\n  pinned " +
        s"${pinned.toSeq.sorted.mkString(", ")}\n(new offenders need a " +
        "boundedness argument in the comment above; removed ones should " +
        "be deleted from the pin)")
  }

  test("q33 chunkify derives its global index without a window operator") {
    val p = plan("q33_chunkify")
    assert(!p.contains("Window"), s"q33 regressed to a window global index:\n$p")
  }

  test("q65 window family partitions by key (no single-partition window)") {
    val p = plan("q65_window_family")
    assert(p.contains("Window"), s"no window operator in:\n$p")
    assert(!p.toLowerCase.contains("singlepartition") ||
      p.contains("o_orderpriority"),
      s"window moved all data to one partition:\n$p")
  }

  test("q96 date predicate prunes partitions at planning time") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = Queries.byName("q96_partition_prune").build(spark, sf)
    val scans = df.queryExecution.sparkPlan
      .collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, "no file scan in q96's plan")
    val s = scans.head
    // 7 of 30 day= directories survive planning; nothing else is listed,
    // opened, or footer-read — the property that makes a day-ranged query
    // cost days-touched (not corpus size) at 100 TB
    assert(s.selectedPartitions.partitionCount === 7,
      s"expected 7 pruned partitions, got ${s.selectedPartitions.partitionCount}")
    // repartition(day) before the write = ONE file per partition directory
    // (30 shuffle partitions would otherwise each drop a file into every
    // day — the small-file explosion)
    assert(s.selectedPartitions.totalNumberOfFiles === 7,
      "expected one file per day partition")
    // the predicate is consumed ENTIRELY by partition pruning: no residual
    // row-level data filter
    assert(s.dataFilters.isEmpty,
      s"day predicate leaked into data filters: ${s.dataFilters}")
    // and the unfiltered layout really has 30 days to prune from
    val full = spark.read.parquet(QueriesTime.dayPartitionedEvents(spark, sf))
      .queryExecution.sparkPlan
      .collect { case f: FileSourceScanExec => f }.head
    assert(full.selectedPartitions.partitionCount === 30)
  }

  test("q95 asof join plans the merge form: union+window, no join node") {
    // The scalable property ops/AsofJoin buys: both sides shuffle ONCE on
    // the key and never pair up. A SortMergeJoin/BroadcastHashJoin (range
    // form) or a cartesian here means the operator regressed to the
    // quadratic candidate-pair shape.
    for (q <- Seq("q95_asof_join", "q101_asof_forward")) {
      val p = plan(q)
      assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
        !p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"),
        s"$q regressed to a pairing join:\n$p")
      assert(p.contains("Union") && p.contains("Window"),
        s"$q merge-form union+window missing:\n$p")
      // event_type predicates reach the parquet scans
      assert(p.contains("PushedFilters") && p.contains("event_type"),
        s"$q event_type filter not pushed to scan:\n$p")
    }
  }

  test("q97 span dedup prunes first-occurrence map-side, no pairwise stage") {
    val p = plan("q97_span_dedup")
    // rank-1 over the span text must plan the map-side group-limit prune —
    // at 100 TB the duplicate mass drops before the reassembly shuffle
    assert(p.contains("WindowGroupLimit"),
      s"first-occurrence keep not map-side pruned:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"span dedup grew a pairwise stage:\n$p")
  }

  test("q98 argmax aggregates in one pass: partial combine, no window") {
    val p = plan("q98_argmax_latest")
    // the whole point vs the window-form argmax (q93): no per-partition
    // sort, no Window operator — a single partial+final agg pass
    assert(!p.contains("Window"), s"argmax regressed to a window plan:\n$p")
    assert(p.contains("partial"), s"no map-side combine in:\n$p")
  }

  test("q100 hopping window is one partial+final agg pass, no window op") {
    val p = plan("q100_hopping_window")
    // the overlap comes from the offset explode, NOT a Window operator or
    // a self-join — partial counts combine map-side per window start
    assert(!p.contains("Window"), s"hopping agg regressed to a window:\n$p")
    assert(p.contains("partial_count"), s"no map-side combine in:\n$p")
    assert(!p.contains("Join"), s"hopping agg grew a join:\n$p")
  }

  test("q99 interval join runs as a binned equi-join, never nested-loop") {
    val p = plan("q99_interval_join")
    // the naive non-equi time join plans BroadcastNestedLoopJoin — the
    // O(|P|·|V|) 100 TB killer the bin key exists to prevent
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"interval join degenerated to a nested-loop pairing:\n$p")
    // and the equi form on the bin key is a real join (broadcast-hash at
    // test size, shuffled hash/SMJ at scale — either is the binned shape)
    assert(p.contains("bin"), s"bin key missing from join plan:\n$p")
    // event_type predicates reach the parquet scans
    assert(p.contains("PushedFilters") && p.contains("event_type"),
      s"event_type filter not pushed to scan:\n$p")
  }

  test("q103 tf-idf argmax prunes map-side and aggregates partially") {
    val p = plan("q103_tfidf_topterms")
    // per-doc rn=1 must plan as WindowGroupLimit (map-side top-1 prune:
    // the window exchange carries O(1) rows per doc, not every term)
    assert(p.contains("WindowGroupLimit"),
      s"tf-idf argmax shuffles all (doc, term) rows:\n$p")
    // tf/df counts combine before their shuffles
    assert(p.contains("partial_count") || p.contains("partial count"),
      s"no map-side combine in tf/df aggregation:\n$p")
  }

  test("token-explode class plans the NATIVE token_hash expression — " +
      "no regression to the conv(substring(md5)) round-trip, no UDF") {
    // q130 is the class representative (direct per-token hash call);
    // q47 covers the HOF-lambda shape (hash inside a transform())
    for (q <- Seq("q130_substring_dedup", "q47_minhash_sig")) {
      val p = plan(q)
      assert(p.contains("token_hash"),
        s"$q lost the native token hash:\n${p.take(800)}")
      assert(!p.contains("conv("),
        s"$q regressed to the hex round-trip form:\n${p.take(800)}")
      assert(!p.contains("ScalaUDF"),
        s"$q fell back to a UDF tier:\n${p.take(800)}")
    }
  }

  test("q198 diversity: pure agg pipeline — no joins, no windows, " +
      "map-side combine, native hash") {
    val df = Queries.byName("q198_token_diversity").build(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"join appeared in a pure-agg op:\n$p")
    assert(!p.contains("Window"), s"window appeared in a pure-agg op:\n$p")
    assert(p.contains("partial"), s"no map-side combine:\n${p.take(600)}")
    assert(p.contains("token_hash"), s"native hash missing:\n${p.take(600)}")
  }

  test("q199 burstiness: corpus work ends at the (type, day) partial " +
      "agg — no joins, no windows") {
    val df = Queries.byName("q199_burstiness_fano").build(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"join appeared in a pure-agg op:\n$p")
    assert(!p.contains("Window"), s"window appeared in a pure-agg op:\n$p")
    assert(p.contains("partial_count") || p.contains("partial count"),
      s"no map-side combine on the daily agg:\n${p.take(600)}")
  }

  test("q200 lift: pair-table aggs with map-side combine, TakeOrdered " +
      "report, no cartesian, native hash") {
    val df = Queries.byName("q200_bigram_lift").build(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"report fell back to a global sort:\n${p.take(600)}")
    assert(p.contains("partial"), s"no map-side combine:\n${p.take(600)}")
    assert(!p.contains("CartesianProduct"),
      s"cartesian in the lift join:\n${p.take(600)}")
    // (the token_hash stage lives behind the pair-table localCheckpoint,
    // so the executed plan starts at Scan ExistingRDD — the native hash
    // is plan-gated on q130/q47 instead)
  }

  test("q201 bpe round: windows are word-partitioned (vocab-cardinality " +
      "parallelism, never a global single-task window) and the merge " +
      "scalar arrives as a broadcast 1-row frame, not a cartesian") {
    import spark.implicits._
    val syms = Seq(("abab", 1L, 1, "a"), ("abab", 1L, 2, "b"),
      ("abab", 1L, 3, "a"), ("abab", 1L, 4, "b"))
      .toDF("word", "freq", "pos", "sym")
    val merges = Seq(("ab", 1)).toDF("pair", "rk")
    val df = QueriesTextAnalysis.bpeRound(syms,
      QueriesTextAnalysis.bpeMergeRow(merges, 1))
    df.collect()
    val root = df.queryExecution.executedPlan
    val inner = root match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val p = inner.toString
    assert(!p.contains("CartesianProduct"), s"cartesian in bpe round:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"merge scalar not broadcast:\n$p")
    // QueryStageExec nodes are leaves, so WindowExec can't be collected
    // through AQE stage boundaries — assert on the plan text instead:
    // every window spec must lead with the word partition column.
    val specs = "windowspecdefinition\\(".r.findAllIn(p).size
    val wordSpecs = "windowspecdefinition\\(word#".r.findAllIn(p).size
    assert(specs > 0, s"no window in bpe round plan:\n$p")
    assert(specs == wordSpecs,
      s"GLOBAL window in bpe round — single-task at scale:\n$p")
  }

  test("q201 merge mining: pair agg has map-side combine and the report " +
      "is TakeOrdered — the rank window touches k rows, never the " +
      "alphabet-squared pair table") {
    val words = graft.Tables.fanOut(graft.Tables.documents(spark, sf))
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.col("text"), " ")).as("word"))
      .groupBy("word").agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("freq"))
    val df = QueriesTextAnalysis.bpeMineMerges(words, 8)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("partial"), s"no map-side combine:\n${p.take(600)}")
    assert(p.contains("TakeOrderedAndProject"),
      s"merge cut fell back to a global sort:\n${p.take(600)}")
    // (the full q201 executed plan starts at checkpointed RDD scans —
    // per-round shapes are gated here and on the bpeRound test above)
  }

  test("q203 rendezvous: per-row argmax (no Generate/explode), scan " +
      "pruned to doc_id, pair agg map-side combinable — zero corpus " +
      "shuffle beyond the 81-key agg") {
    val df = QueriesCuration.rendezvousPairs(Tables.documents(spark, sf))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Generate"),
      s"shard weights exploded instead of computed per-row:\n${p.take(600)}")
    assert(p.contains("partial"), s"no map-side combine:\n${p.take(600)}")
    assert(!p.contains("text"),
      s"corpus scan reads text for a doc_id-only op:\n${p.take(600)}")
    assert(p.contains("token_hash"),
      s"native hash missing from the weight lambda:\n${p.take(600)}")
  }

  test("q204 OHLC: one partial+final agg over the event stream — no " +
      "window, no join; min_by/max_by carry constant partial state") {
    val p = plan("q204_ohlc_downsample")
    assert(!p.contains("windowspecdefinition"),
      s"OHLC planned as a window — full per-bucket sort at scale:\n$p")
    assert(!p.contains("Join"), s"join in a pure-agg op:\n${p.take(600)}")
    assert(p.contains("partial"), s"no map-side combine:\n${p.take(600)}")
  }

  test("q104 box predicates reach the z-clustered parquet scan") {
    // both dimensions' range predicates must be pushed — that is what the
    // z-layout's tight per-file min/max stats turn into row-group skips.
    // (plan .toString truncates PushedFilters — read scan metadata.)
    val root = Queries.byName("q104_zorder_box").build(spark, sf)
      .queryExecution.executedPlan
    val inner = root match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val pushed = inner
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metadata("PushedFilters")
      }.mkString("; ")
    Seq("l_partkey", "l_suppkey").foreach { c =>
      assert(pushed.contains(s"GreaterThanOrEqual($c,") &&
        pushed.contains(s"LessThanOrEqual($c,"),
        s"$c box bounds not pushed: $pushed")
    }
  }

  test("q115 batch verdict reads the persisted dedup index — no fold " +
      "re-run, no corpus re-shingle in the steady-state plan") {
    val df = Queries.byName("q115_batch_verdict").build(spark, sf)
    // the labels side is a parquet scan of the LayoutCache artifact
    // (plan toString truncates scan locations — check inputFiles)
    assert(df.inputFiles.exists(_.contains("dedup112_index")),
      df.inputFiles.take(3).mkString(", "))
    // and nothing upstream re-shingles or re-bands the corpus
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("band_key") && !p.toLowerCase.contains("minhash"),
      s"verdict plan re-runs the signature pipeline:\n${p.take(800)}")
  }

  test("q213 agg-mv weekly rollup reads ONLY the maintained state " +
      "table — no events scan anywhere in the steady-state plan") {
    val df = Queries.byName("q213_agg_mv").build(spark, sf)
    // every input file is the LayoutCache state artifact, none the raw
    // fact table (plan toString truncates locations — check inputFiles)
    assert(df.inputFiles.nonEmpty &&
      df.inputFiles.forall(_.contains("agg_mv_state")),
      df.inputFiles.take(3).mkString(", "))
    // and the rollup re-aggregates with a partial (map-side) phase
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("partial"), s"no partial agg in regrain:\n${p.take(600)}")
  }

  test("q223 monthly composed regrain ALSO reads only the maintained " +
      "state — the grain chain never re-touches raw facts") {
    val df = Queries.byName("q223_agg_mv_monthly").build(spark, sf)
    assert(df.inputFiles.nonEmpty &&
      df.inputFiles.forall(_.contains("agg_mv_state")),
      df.inputFiles.take(3).mkString(", "))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("partial"), s"no partial agg in regrain:\n${p.take(600)}")
  }

  test("q222 welch: the min(day) split rides a 1-row BROADCAST against " +
      "the corpus and the six partials fold in one partial+final agg") {
    val p = plan("q222_welch_ttest")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"min-day threshold not broadcast:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"),
      s"corpus re-shuffled for a 1-row join:\n${p.take(800)}")
    assert(p.contains("partial"),
      s"no map-side combine on the welch partials:\n${p.take(600)}")
    // ONE corpus-sized exchange: the event_type hash partitioning for
    // the final agg; everything after runs on the types-sized table
    val exchanges = "Exchange hashpartitioning".r
      .findAllIn(p).length
    assert(exchanges <= 1, s"$exchanges corpus exchanges:\n${p.take(800)}")
  }

  test("q224 uniqUpTo: bounded-state partial fold BEFORE the exchange " +
      "(executors ship <= N+1 longs per group, never member sets)") {
    val p = plan("q224_uniq_upto")
    assert(p.contains("partial_uniquptoaggregator"),
      s"no map-side combine on the bounded-state aggregator:\n${p.take(800)}")
    // only the 3 needed columns reach the scan
    assert(p.contains("ReadSchema: struct<ts:") &&
      !p.contains("value:double"),
      s"scan not pruned to (ts, user_id, event_type):\n${p.take(800)}")
  }

  test("q130 substring dedup: nothing pairwise — dup detection rides the " +
      "fp window and the token mark is an equi-join") {
    val p = plan("q130_substring_dedup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"stride-1 dedup degenerated to a pairwise comparison:\n${p.take(800)}")
    // the corpus-wide recurrence check is ONE window over the 8-byte fp
    // (narrow rows through the exchange), not a self-join of window text
    assert(p.contains("row_number"), s"no rank-1 window:\n${p.take(400)}")
    // per-doc reassembly aggregates with a partial (map-side) phase
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      s"no aggregate for reassembly:\n${p.take(400)}")
  }

  test("q118 decontam compares corpus×eval through the cell equi-join, " +
      "broadcast eval side, never all-pairs") {
    val p = plan("q118_semantic_decontam")
    // exactly one BNLJ is legitimate: the 10-row centroid scoring; the
    // corpus×eval comparison itself must ride the cell equi-join
    assert(!p.contains("CartesianProduct"),
      s"decontam degenerated to an all-pairs product:\n$p")
    assert(p.sliding("BroadcastNestedLoopJoin".length)
      .count(_ == "BroadcastNestedLoopJoin") <= 2,
      s"more nested-loop joins than the two centroid scorings:\n$p")
    assert(p.contains("BroadcastHashJoin") && p.contains("cell"),
      s"cell-blocked eval join missing:\n$p")
    // the final per-doc rollup aggregates partially (map-side combine)
    assert(p.contains("partial_count") || p.contains("partial"),
      s"no partial aggregation in decontam rollup:\n$p")
  }

  test("q119 semantic dedup generates candidates through the (cell, sub) " +
      "equi-join, never an all-pairs product") {
    // gate the candidate stage directly: the closure's internal checkpoint
    // truncates lineage, so the declared query's executedPlan shows only
    // the verdict join
    val p = QueriesText.semanticEdges(Tables.embeddings(spark, sf))
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      s"semantic dedup degenerated to an all-pairs product:\n$p")
    // the only nested-loop joins are the 10-row centroid scorings inside
    // AnnIndexPipeline.assign (once per side of the pair join)
    assert(p.sliding("BroadcastNestedLoopJoin".length)
      .count(_ == "BroadcastNestedLoopJoin") <= 2,
      s"more nested-loop joins than the centroid scorings:\n$p")
    // the pairwise stage keys on BOTH block columns — cell alone would
    // degrade to within-cell n² under exact-copy multiplicity
    assert(p.contains("SortMergeJoin [cell") ||
      p.contains("BroadcastHashJoin [cell") ||
      (p.contains("cell") && p.contains("sub")),
      s"composite (cell, sub) block key missing from the pair join:\n$p")
  }

  test("q119 copy-group mapping keys its exchange on xxhash64(embedding), " +
      "not the raw 256 B array alone") {
    val p = plan("q119_semantic_dedup")
    // the copy->representative window must partition on the 8 B hash
    // prefix so the window sort compares the array only on hash ties
    // (VERDICT r7 #5); the hash appearing in the plan's hashpartitioning/
    // window spec is the witness
    assert(p.contains("xxhash64"),
      s"copy-group exchange lost the xxhash64 prefix key:\n$p")
  }

  test("q127 chunking is map-side pure — the only exchange is the output " +
      "sort's range partitioning") {
    val p = plan("q127_context_chunks")
    assert(!p.contains("hashpartitioning"),
      s"chunk explode should not shuffle before the output sort:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"documents scan not pruned to (doc_id, text):\n$p")
  }

  test("q128 split-leakage joins the banded candidate set by broadcast — " +
      "the corpus-side split labels are never shuffled for the probe") {
    val p = plan("q128_split_leakage")
    assert(!p.contains("CartesianProduct"),
      s"leakage audit degenerated to a product:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"candidate pairs not broadcast against the split labels:\n$p")
  }

  test("q128 audits against the PERSISTED band index — no corpus " +
      "re-shingle in the incremental path") {
    val df = Queries.byName("q128_split_leakage").build(spark, sf)
    assert(df.inputFiles.exists(_.contains("dedup112_index")),
      s"candidates do not probe the persisted index: " +
        df.inputFiles.take(3).mkString(", "))
    // the signature pipeline must be absent: band keys come from the
    // index scan, not recomputation. Its unmistakable markers are the
    // shingle lead() window and the b0/b1 band-key concat literals (the
    // split-label side legitimately uses md5 for the bucket hash, so
    // "md5" alone is not a valid marker).
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("lead(") && !p.contains("concat_ws(-, b0"),
      s"audit plan re-shingles the corpus:\n${p.take(800)}")
  }

  test("q129 chunk-dup rate derives the chunk table ONCE — window count " +
      "over fp, not a second md5 pass through an agg+join") {
    val p = plan("q129_chunk_dup_rate")
    assert(p.sliding("Generate explode".length)
      .count(_ == "Generate explode") == 1,
      s"chunk explode appears more than once (two corpus md5 passes):\n$p")
    assert(p.contains("windowspecdefinition(fp"),
      s"corpus-wide occurrence count is not the fp-partitioned window:\n$p")
    assert(!p.contains("CartesianProduct"), s"product in dup-rate plan:\n$p")
  }

  test("q121 epoch shuffle ranks through the distributed prefix sum — " +
      "no window operator anywhere in the plan") {
    // a global row_number() would single-task the whole corpus; the rank
    // must come from range partition + per-partition offsets (GlobalRank)
    val p = plan("q121_epoch_shuffle")
    assert(!p.contains("Window"),
      s"epoch shuffle fell back to a window rank:\n$p")
    assert(p.contains("rangepartitioning") || p.contains("RangePartitioning"),
      s"no range partitioning on the order key:\n$p")
  }

  test("q122 KMV sketches aggregate partially — executors exchange " +
      "bounded hash arrays, never user sets") {
    val p = plan("q122_audience_overlap")
    // typed-udaf partial+final: the sketch fold must run map-side
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      s"no object aggregate for the KMV udaf:\n$p")
    assert(p.contains("partial"),
      s"no partial (map-side) sketch aggregation:\n$p")
    // the pairwise stage is over the 5-row sketch table; the events scan
    // feeds the agg with exactly (event_type, user_id)
    assert(!p.contains("props") && !p.contains("event_id"),
      s"events scan reads unprojected columns:\n$p")
  }

  test("q120 classifier scoring aggregates partially — executors exchange " +
      "(count, sum) pairs, never token strings") {
    val p = plan("q120_quality_classifier")
    assert(p.contains("partial_count") || p.contains("partial"),
      s"no partial aggregation in classifier scoring:\n$p")
    // hashing-trick features need only doc_id + text: the scan must prune
    assert(!p.contains("n_chars") && !p.contains("source"),
      s"documents scan reads unprojected columns:\n$p")
  }

  test("q123 bm25 shuffles only query-term postings — term filter below " +
      "the tf aggregate, stats broadcast back, no window") {
    val p = plan("q123_bm25_relevance")
    // the token stream must be filtered to the query's terms BEFORE any
    // aggregation: the corpus-wide exchange carries postings, not vocab
    assert(p.contains("vector"),
      s"query-term filter missing from plan:\n$p")
    assert(p.contains("partial_count") || p.contains("partial"),
      s"no map-side combine in the tf aggregate:\n$p")
    // df (3 rows) joins broadcast; (N, L) is the one legitimate 1-row
    // nested-loop broadcast; nothing may plan as a cartesian product
    assert(p.contains("BroadcastHashJoin"),
      s"df join not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"bm25 degenerated to a cartesian product:\n$p")
    assert(p.sliding("BroadcastNestedLoopJoin".length)
      .count(_ == "BroadcastNestedLoopJoin") <= 1,
      s"more nested-loop joins than the 1-row stats broadcast:\n$p")
    // top-20 must not rank through a window operator
    assert(!p.contains("Window"), s"bm25 top-k planned a window:\n$p")
    // scoring needs only (doc_id, text): the documents scan must prune
    assert(!p.contains("n_chars") && !p.contains("source"),
      s"documents scan reads unprojected columns:\n$p")
  }

  test("q124 bpe pair mining runs dedup-first — pair extraction over the " +
      "distinct-word table, both aggs partial, pruned scan, no window") {
    val p = plan("q124_bpe_pair_mining")
    // word-freq agg and pair agg both combine map-side: the exchanges
    // carry (word, count) then (2-char pair, sum), never the token stream
    assert(p.contains("partial_sum") || p.contains("partial"),
      s"no map-side combine in the pair count:\n$p")
    // top-20 is a TakeOrdered, not a window rank
    assert(!p.contains("Window"), s"pair top-k planned a window:\n$p")
    // mining needs only text: the documents scan must prune
    assert(!p.contains("n_chars") && !p.contains("source"),
      s"documents scan reads unprojected columns:\n$p")
  }

  test("q125 lm scoring builds the corpus bigram table ONCE — the tf " +
      "exchange is reused by the model branch, equi-joins only") {
    val df = Queries.byName("q125_lm_score").build(spark, sf)
    val p0 = df.queryExecution.executedPlan.toString
    // model join and scoring join are equi-joins on the pair string —
    // never a nested loop or cartesian (the vocab² model side forbids it)
    assert(!p0.contains("CartesianProduct") &&
      !p0.contains("BroadcastNestedLoopJoin"),
      s"lm scoring planned a non-equi join:\n$p0")
    assert(p0.contains("partial_count") || p0.contains("partial"),
      s"no map-side combine in the bigram tf aggregate:\n$p0")
    assert(!p0.contains("n_chars") && !p0.contains("source"),
      s"documents scan reads unprojected columns:\n$p0")
    // the doc-bigram tf subtree feeds BOTH the scoring join and the
    // model aggregation: after execution the final adaptive plan must
    // show the exchange built once and reused, not two corpus explodes
    df.collect()
    val p1 = df.queryExecution.executedPlan.toString
    assert(p1.contains("ReusedExchange") || p1.contains("ReusedQueryStage"),
      s"bigram tf exchange rebuilt per consumer:\n$p1")
  }

  test("q126 quantile sketch aggregates partially — executors exchange " +
      "bounded (hash, value) arrays, events scan pruned") {
    val p = plan("q126_quantile_sketch")
    // typed-aggregator partial+final: the exchange carries ≤K-pair
    // buffers per (group, partition), never event rows
    assert(p.contains("ObjectHashAggregate"),
      s"sketch agg not an object aggregate:\n$p")
    assert(p.contains("partial"),
      s"no partial sketch aggregation:\n$p")
    // sketching needs (event_type, event_id, value) only
    assert(!p.contains("props") && !p.contains("user_id"),
      s"events scan reads unprojected columns:\n$p")
  }

  test("q134 RRF legs reduce via distributed top-k (TakeOrderedAndProject" +
      "), never a global sort; fusion joins only the two 20-row lists") {
    val p = plan("q134_rrf_hybrid")
    assert(p.sliding("TakeOrderedAndProject".length)
      .count(_ == "TakeOrderedAndProject") >= 2,
      s"a retrieval leg fell back to a global sort:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"),
      s"product in the fusion plan:\n${p.take(800)}")
    // the only nested-loop joins are the two 1-row broadcasts (BM25's
    // corpus stats, the dense leg's query vector)
    assert(p.sliding("BroadcastNestedLoopJoin".length)
      .count(_ == "BroadcastNestedLoopJoin") <= 2,
      s"unexpected nested-loop join beyond the scalar broadcasts:\n$p")
  }

  test("q135 soft-dedup weights ride the cluster-partitioned window — " +
      "labels from the persisted index, nothing pairwise, no closure " +
      "rebuild") {
    val df = Queries.byName("q135_soft_dedup_sample").build(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"soft dedup degenerated to a pairwise comparison:\n${p.take(800)}")
    assert(p.contains("windowspecdefinition(cluster"),
      s"cluster-size count is not the cluster-partitioned window:\n$p")
    // the per-source rollup aggregates partially (map-side combine)
    assert(p.contains("partial_count") || p.contains("partial"),
      s"no partial aggregation in the source rollup:\n$p")
    // labels read from the maintained artifact — the signature pipeline
    // (shingle lead() window, band-key concat) must be absent
    assert(df.inputFiles.exists(_.contains("dedup112_index")),
      s"labels do not come from the persisted index: " +
        df.inputFiles.take(3).mkString(", "))
    assert(!p.contains("lead(") && !p.contains("concat_ws(-, b0"),
      s"soft dedup re-runs the signature pipeline:\n${p.take(800)}")
  }

  test("q136 vocab coverage explodes the corpus ONCE — vocab fit and " +
      "probe both read the materialized (source, tok) aggregate") {
    val df = Queries.byName("q136_vocab_coverage").build(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // both consumers read the aggregate's exchange: one corpus explode
    assert(generates("q136_vocab_coverage") == 1,
      s"probe or vocab fit re-explodes the corpus:\n${p.take(800)}")
    assert(p.contains("BroadcastHashJoin"),
      s"64-row vocab not broadcast into the probe:\n${p.take(800)}")
    assert(p.contains("TakeOrderedAndProject"),
      s"vocab fit fell back to a global sort:\n${p.take(800)}")
  }

  test("q138 dataset card: one corpus scan, recurrence via the sha2 " +
      "window (raw text never shuffles), membership from the persisted " +
      "index — no closure rebuild, nothing pairwise") {
    val df = Queries.byName("q138_dataset_card").build(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"card rollup planned a pairwise join:\n${p.take(800)}")
    assert(p.contains("windowspecdefinition(t_h"),
      s"recurrence count not a window over the 32-byte hash:\n$p")
    assert(df.inputFiles.exists(_.contains("dedup112_index")),
      s"membership does not read the persisted index: " +
        df.inputFiles.take(3).mkString(", "))
    assert(!p.contains("lead(") && !p.contains("concat_ws(-, b0"),
      s"card re-runs the signature pipeline:\n${p.take(800)}")
    assert(p.contains("partial_count") || p.contains("partial"),
      s"no map-side combine in the source rollup:\n$p")
  }

  test("q137 mix allocation scans the corpus once — weight arithmetic " +
      "runs over the materialized sources-sized table") {
    val df = Queries.byName("q137_mix_allocation").build(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(scansAndReads("q137_mix_allocation")._1 == 1,
      s"allocation arithmetic re-scans the corpus:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"),
      s"product in the allocation plan:\n${p.take(800)}")
  }

  test("a subtree read by several consumers is shared through a reused " +
      "exchange, not a Materialize.cut: one scan, one exchange read by " +
      "each consumer") {
    // query -> consumers of the shared aggregate's exchange
    for ((q, n) <- Seq("q136_vocab_coverage" -> 2, "q140_dsir_score" -> 2,
        "q173_centroid_cosine" -> 3, "q206_changepoint" -> 2,
        "q209_alpha_mix" -> 2)) {
      val (scans, reads) = scansAndReads(q)
      assert(scans == 1 && reads.max == n,
        s"$q: $scans scans, exchange reads $reads")
    }
  }

  test("q154 budget materialization: two-phase prefix sum — corpus " +
      "cumsum windows carry the bucket key, offsets/budgets broadcast, " +
      "one materialized scan") {
    val df = Queries.byName("q154_budget_materialize").build(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the 100 TB trap: a prefix sum over a window PARTITIONed BY source
    // alone serializes each source into one task — the corpus cumsum
    // must be partitioned (source, bkt); only the sources×256 offsets
    // table may window on source alone (ordered by bkt, not h)
    assert(!"windowspecdefinition\\(source#\\d+, h#".r
        .findFirstIn(p).isDefined,
      s"corpus prefix sum partitioned by source alone:\n${p.take(1200)}")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"offsets/budgets not broadcast back to the corpus:\n${p.take(800)}")
    // the corpus is scanned once: every other read of it is a reused
    // exchange (planned with AQE off, where reuse shows in the plan)
    val reused = withConf("spark.sql.adaptive.enabled" -> "false") {
      Queries.byName("q154_budget_materialize").build(spark, sf)
        .queryExecution.executedPlan.toString
    }
    assert("documents\\.parquet".r.findAllIn(reused).size == 1,
      s"the corpus is scanned more than once:\n$reused")
    assert(!p.contains("CartesianProduct"),
      s"product on the corpus path:\n${p.take(800)}")
    assert(p.contains("partial"),
      s"no map-side combine in the phase-1 partials:\n${p.take(800)}")
  }

  test("q139 edit-distance verification runs on the PERSISTED candidate " +
      "set — broadcast probes, no corpus re-shingle, nothing pairwise") {
    val df = Queries.byName("q139_editdist_verify").build(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"verification degenerated to a pairwise join:\n${p.take(800)}")
    assert(p.contains("BroadcastHashJoin"),
      s"candidate pairs not broadcast into the text probes:\n${p.take(800)}")
    assert(df.inputFiles.exists(_.contains("dedup112_index")),
      s"candidates do not probe the persisted index: " +
        df.inputFiles.take(3).mkString(", "))
    // the signature pipeline must be absent — candidates come from the
    // index scan (q128's incremental contract)
    assert(!p.contains("lead(") && !p.contains("concat_ws(-, b0"),
      s"verification re-shingles the corpus:\n${p.take(800)}")
  }

  test("q140 DSIR score explodes the corpus ONCE — both distribution " +
      "marginals and the doc scores read the materialized (doc, bucket) " +
      "counts; ratio table broadcast; top-k via TakeOrdered") {
    val df = Queries.byName("q140_dsir_score").build(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // both consumers read the counts' exchange: one corpus explode
    assert(generates("q140_dsir_score") == 1,
      s"score or marginal re-explodes the corpus:\n${p.take(800)}")
    assert(p.contains("BroadcastHashJoin"),
      s"4096-row ratio table not broadcast onto the counts:\n${p.take(800)}")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k selection fell back to a global sort:\n${p.take(800)}")
    assert(p.contains("partial"),
      s"no map-side combine in the per-doc score agg:\n$p")
  }

  test("q141 padding audit is one pruned scan + one bucket-sized " +
      "partial agg — no join, no window over docs") {
    val p = plan("q141_padding_efficiency")
    assert(!p.contains("Join"), s"join in a single-table audit:\n$p")
    assert(p.contains("partial_count") || p.contains("partial"),
      s"no map-side combine before the bucket exchange:\n$p")
    // cap is a pure function of the token count: only text is read
    assert(!p.contains("n_chars") && !p.contains("lang"),
      s"padding audit reads unprojected columns:\n${p.take(600)}")
  }

  test("q142 yield curve: cumulative windows run over the MATERIALIZED " +
      "bin table, never over docs — corpus scanned once, no join") {
    val df = Queries.byName("q142_quality_yield").build(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"join in a single-table sweep:\n$p")
    // bins are checkpointed (q137 precedent): no FileScan of documents may
    // remain in the declared plan — the windows read the bin-sized RDD
    // scan, so their single-task execution is over ~10 rows by proof
    assert(!p.contains("documents.parquet"),
      s"cumulative windows re-scan the corpus:\n${p.take(800)}")
    assert(p.contains("Window"), s"no cumulative window in:\n$p")
  }

  test("q143 cluster-safe split reads the PERSISTED labels — no closure " +
      "rebuild, no re-shingle, nothing pairwise") {
    val df = Queries.byName("q143_cluster_safe_split").build(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"split rollup planned a pairwise join:\n${p.take(800)}")
    assert(df.inputFiles.exists(_.contains("dedup112_index")),
      s"labels do not come from the persisted index: " +
        df.inputFiles.take(3).mkString(", "))
    assert(!p.contains("lead(") && !p.contains("concat_ws(-, b0"),
      s"split assignment re-runs the signature pipeline:\n${p.take(800)}")
  }

  test("q144 CCNet buckets carry NO doc-sized window — cumulative counts " +
      "come from the range-partitioned prefix sum; lang probes broadcast") {
    val df = Queries.byName("q144_ccnet_buckets").build(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the whole point of the prefixSum form: tertile boundaries without
    // a per-lang window over docs (single-task-per-language at 100 TB)
    assert(!p.contains("Window"),
      s"bucketing regressed to a window over docs:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"),
      s"cartesian in the bucket rollup:\n${p.take(800)}")
    assert(p.contains("partial"),
      s"no map-side combine in the score/value aggs:\n${p.take(800)}")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"lang index/offsets not broadcast:\n${p.take(800)}")
  }

  test("q139/q145's shared verification stage probes the PERSISTED " +
      "index — broadcast text probes, no corpus re-shingle, fanned out") {
    val df = QueriesText.editSims(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"verification degenerated to a pairwise join:\n${p.take(800)}")
    assert(p.contains("BroadcastHashJoin"),
      s"candidate pairs not broadcast into the text probes:\n${p.take(800)}")
    assert(df.inputFiles.exists(_.contains("dedup112_index")),
      s"candidates do not probe the persisted index: " +
        df.inputFiles.take(3).mkString(", "))
    assert(!p.contains("lead(") && !p.contains("concat_ws(-, b0"),
      s"verification re-shingles the corpus:\n${p.take(800)}")
    // the O(len²) stage must not run single-task on the local
    // 1-row-group scan: a round-robin exchange precedes it
    assert(p.contains("RoundRobinPartitioning"),
      s"levenshtein stage not fanned out:\n${p.take(800)}")
  }

  test("q145 threshold sweep: cumulative windows only over the " +
      "materialized bin table, corpus touched only for the total") {
    val df = Queries.byName("q145_dedup_threshold_sweep").build(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      s"sweep planned a pairwise join:\n${p.take(800)}")
    // the verification pipeline ran at bin-materialization time; the
    // declared plan's only file scan is the 1-column corpus count
    assert(!p.contains("levenshtein"),
      s"verification re-runs above the materialized bins:\n${p.take(800)}")
    // every cumulative window reads the checkpointed ~20-row bin table
    import org.apache.spark.sql.execution.window.WindowExec
    df.queryExecution.sparkPlan.foreach {
      case w: WindowExec =>
        assert(w.child.collectFirst {
          case r if r.getClass.getSimpleName == "RDDScanExec" => r
        }.nonEmpty, s"cumulative window not over the materialized bins:\n$w")
      case _ =>
    }
  }

  test("q146 source-overlap matrix arithmetic runs over the MATERIALIZED " +
      "sources²-bounded table — no file scan, no pairwise join, sizes " +
      "broadcast") {
    val df = Queries.byName("q146_source_overlap").build(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the one corpus shingle pass ran at matrix-materialization time:
    // the declared plan reads only the checkpointed matrix
    assert(!p.contains("FileScan"),
      s"matrix arithmetic re-scans the corpus:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"matrix degenerated to a pairwise join:\n${p.take(800)}")
    assert(p.contains("BroadcastHashJoin"),
      s"per-source sizes not broadcast onto the matrix:\n${p.take(800)}")
    assert(!p.contains("Generate"),
      s"pair expansion re-runs above the materialized matrix:\n" +
        p.take(800))
  }

  test("q147 containment verification probes the PERSISTED index and the " +
      "MATERIALIZED candidate-doc shingle sets — no corpus re-shingle, " +
      "no pairwise join") {
    val df = Queries.byName("q147_containment_verify").build(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"verification degenerated to a pairwise join:\n${p.take(800)}")
    assert(p.contains("BroadcastHashJoin"),
      s"candidate pairs / sizes not broadcast:\n${p.take(800)}")
    assert(df.inputFiles.exists(_.contains("dedup112_index")),
      s"candidates do not probe the persisted index: " +
        df.inputFiles.take(3).mkString(", "))
    // the candidate-doc shingle pass ran once, at set materialization:
    // the declared plan carries no per-doc window and no signature keys
    assert(!p.contains("lead(") && !p.contains("concat_ws(-, b0"),
      s"intersection re-shingles above the materialized sets:\n" +
        p.take(800))
  }

  test("q148 drift audit: TVD arithmetic runs over the MATERIALIZED " +
      "(source × bucket) cell table — corpus scanned once, bounded " +
      "cross expansions only") {
    val df = Queries.byName("q148_drift_audit").build(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the one corpus scan ran at cell-materialization time
    assert(!p.contains("FileScan"),
      s"marginal arithmetic re-scans the corpus:\n${p.take(800)}")
    assert(p.contains("partial"),
      s"no map-side combine in the marginal aggs:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"),
      s"unbroadcast cartesian in the grid expansion:\n${p.take(800)}")
    // the two deliberate cross expansions (bucket catalog, 1-row total)
    // must both be broadcast — over the checkpointed bounded table
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 2, s"unexpected extra nested-loop joins ($bnlj):\n" +
      p.take(800))
  }

  test("q149 winnowing: every window is doc- or fp-partitioned (no " +
      "corpus-wide window), nothing pairwise, map-side combine present") {
    val df = Queries.byName("q149_winnow_fingerprints").build(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"fingerprint pairing degenerated to a pairwise join:\n" +
        p.take(800))
    assert(p.contains("partial"),
      s"no map-side combine in the pair agg:\n${p.take(800)}")
    import org.apache.spark.sql.execution.window.WindowExec
    df.queryExecution.sparkPlan.foreach {
      case w: WindowExec =>
        assert(w.partitionSpec.nonEmpty,
          s"corpus-wide (unpartitioned) window in winnowing:\n$w")
      case _ =>
    }
  }

  test("q152 novelty: one shingle pipeline, dedup + spread window share " +
      "the h exchange, no join, partial agg — nothing pairwise") {
    val df = Queries.byName("q152_source_novelty").build(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin") && !p.contains("Join"),
      s"novelty should need no join at all:\n${p.take(800)}")
    assert(p.contains("partial"),
      s"no map-side combine in the rollup:\n${p.take(800)}")
    // exactly one shingle pipeline: a single posexplode Generate
    val gens = "Generate".r.findAllIn(p).size
    assert(gens <= 1, s"corpus shingled more than once ($gens):\n" +
      p.take(800))
    // the (source,h) dedup must aggregate on the h exchange in place —
    // no second corpus-sized exchange between repartition and rollup
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) +
      p.linesIterator.count(_.contains("Exchange rangepartitioning")) <= 4,
      s"extra exchange — dedup/window not sharing the h partitioning:\n$p")
  }

  test("q153 quality-dup matrix reads the PERSISTED labels — no closure " +
      "rebuild, no re-shingle, map-side score, partial agg") {
    val df = Queries.byName("q153_quality_dup_matrix").build(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"matrix planned a pairwise join:\n${p.take(800)}")
    assert(df.inputFiles.exists(_.contains("dedup112_index")),
      s"labels do not come from the persisted index: " +
        df.inputFiles.take(3).mkString(", "))
    assert(!p.contains("lead(") && !p.contains("concat_ws(-, b0"),
      s"membership re-runs the signature pipeline:\n${p.take(800)}")
    assert(p.contains("partial"),
      s"no map-side combine in the bin rollup:\n${p.take(800)}")
  }

  test("q151 snapshot diff: narrow hash projections into one id join, " +
      "map-side state CASE, partial agg — text never leaves the scan") {
    val df = Queries.byName("q151_snapshot_diff").build(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"diff degenerated to a pairwise join:\n${p.take(800)}")
    assert(p.contains("partial"),
      s"no map-side combine in the state rollup:\n${p.take(800)}")
    // the scans feed sha2 projections only: no unprojected columns read
    assert(!p.contains("n_chars") && !p.contains("lang"),
      s"diff reads unprojected columns:\n${p.take(600)}")
    assert(!p.contains("Window"),
      s"unexpected window in a join-diff:\n${p.take(600)}")
  }

  test("q150 boilerplate miner: hash-keyed aggs with map-side combine, " +
      "top-k via TakeOrdered, no pairwise join, doc-partitioned windows") {
    val df = Queries.byName("q150_boilerplate_ngrams").build(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"report fell back to a global sort:\n${p.take(800)}")
    assert(p.contains("partial"),
      s"no map-side combine in the gram aggs:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"pairwise join in the miner:\n${p.take(800)}")
    import org.apache.spark.sql.execution.window.WindowExec
    df.queryExecution.sparkPlan.foreach {
      case w: WindowExec =>
        assert(w.partitionSpec.nonEmpty,
          s"corpus-wide (unpartitioned) window in the miner:\n$w")
      case _ =>
    }
  }

  test("q155 interpolation: one corpus scan + partial agg; spine/windows " +
      "run post-agg, every window partitioned") {
    val df = Queries.byName("q155_interpolate").build(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the corpus-sized work is exactly ONE events pass into the hourly
    // agg, materialized at the checkpoint; the spine generate, join, and
    // prev/next windows run post-agg — no FileScan may remain (q137/q148
    // checkpointed-input precedent)
    assert(!p.contains("FileScan"),
      s"corpus re-scan past the hourly materialization:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"product in the interpolation plan:\n${p.take(800)}")
    import org.apache.spark.sql.execution.window.WindowExec
    df.queryExecution.sparkPlan.foreach {
      case w: WindowExec =>
        assert(w.partitionSpec.nonEmpty,
          s"unpartitioned window in the gap fill:\n$w")
      case _ =>
    }
  }

  test("q157 filter funnel: one corpus scan into a single conjunction " +
      "agg — no join, no window, map-side combine") {
    val p = plan("q157_filter_funnel")
    assert("FileScan".r.findAllIn(p).size == 1,
      s"documents scanned more than once:\n${p.take(800)}")
    assert(p.contains("partial"),
      s"no map-side combine in the funnel counters:\n${p.take(800)}")
    assert(!p.contains("Join"),
      s"funnel should need no join:\n${p.take(800)}")
    assert(!p.contains("Window"),
      s"funnel should need no window:\n${p.take(800)}")
  }

  test("q158 keep policy: aggregation-form argmax over the checkpointed " +
      "labeled table — no corpus re-scan, no per-cluster window, no " +
      "pairwise join, partial agg") {
    val df = Queries.byName("q158_keep_policy").build(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // features + persisted-index labels are materialized once at the
    // checkpoint; each policy's argmax is max(struct(...)) — associative
    // partial agg, NOT a row_number window per cluster
    assert(!p.contains("FileScan"),
      s"corpus re-scan past the labeled materialization:\n${p.take(800)}")
    assert(!p.contains("Window"),
      s"per-cluster window instead of aggregation-form argmax:\n" +
        p.take(800))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"pairwise join in the policy audit:\n${p.take(800)}")
    assert(p.contains("partial"),
      s"no map-side combine in the per-cluster argmax:\n${p.take(800)}")
    assert("Union".r.findAllIn(p).size >= 1,
      s"three policy rows should union:\n${p.take(800)}")
  }

  test("q159 range frame: a genuine RangeFrame window over the daily " +
      "agg — one scan, partial agg, user-partitioned") {
    val df = Queries.byName("q159_range_frame").build(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("RangeFrame"),
      s"window planned without a RANGE frame:\n${p.take(800)}")
    assert("FileScan".r.findAllIn(p).size == 1,
      s"events scanned more than once:\n${p.take(800)}")
    assert(p.contains("partial"),
      s"no map-side combine in the daily agg:\n${p.take(800)}")
    import org.apache.spark.sql.execution.window.WindowExec
    df.queryExecution.sparkPlan.foreach {
      case w: WindowExec =>
        assert(w.partitionSpec.nonEmpty,
          s"unpartitioned RANGE window:\n$w")
      case _ =>
    }
  }

  test("q160 spearman: per-source ranks come from the distributed " +
      "GlobalRank path, not a per-source window") {
    val df = Queries.byName("q160_spearman_agreement").build(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"),
      s"per-source rank planned as a window (single-reducer per source " +
        s"at 100 TB):\n${p.take(800)}")
    assert(p.contains("partial"),
      s"no map-side combine in the per-source agg:\n${p.take(800)}")
    // one range exchange per rank pass, each read by its row and summary
    // passes
    assert(rangeReads("q160_spearman_agreement") == Seq(2, 2),
      s"GlobalRank's range exchanges missing or not reused:\n${p.take(800)}")
  }

  test("q162 spike gate: strictly-preceding RANGE frame over the daily " +
      "agg — one scan, partial agg, user-partitioned window") {
    val df = Queries.byName("q162_spike_gate").build(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("RangeFrame"),
      s"baseline planned without a RANGE frame:\n${p.take(800)}")
    assert("FileScan".r.findAllIn(p).size == 1,
      s"events scanned more than once:\n${p.take(800)}")
    assert(p.contains("partial"),
      s"no map-side combine in the daily agg:\n${p.take(800)}")
    import org.apache.spark.sql.execution.window.WindowExec
    df.queryExecution.sparkPlan.foreach {
      case w: WindowExec =>
        assert(w.partitionSpec.nonEmpty,
          s"unpartitioned baseline window:\n$w")
      case _ =>
    }
  }

  test("q163 winsorized mean: distributed percentile path (no buffer-all " +
      "Percentile, no per-source window), bounds broadcast back") {
    val df = Queries.byName("q163_winsorized_mean").build(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("percentile"),
      s"buffer-all Percentile aggregate crept in:\n${p.take(800)}")
    assert(!p.contains("Window"),
      s"per-source window crept into the percentile path:\n${p.take(800)}")
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"sources-many bounds table not broadcast:\n${p.take(800)}")
    assert(p.contains("partial"),
      s"no map-side combine in the winsorized agg:\n${p.take(800)}")
  }

  test("q164 rolling distinct: RANGE frame over the deduped (user, day, " +
      "type) table — one scan, partial dedup agg, user-partitioned") {
    val df = Queries.byName("q164_rolling_distinct").build(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("RangeFrame"),
      s"rolling window planned without a RANGE frame:\n${p.take(800)}")
    assert("FileScan".r.findAllIn(p).size == 1,
      s"events scanned more than once:\n${p.take(800)}")
    assert(p.contains("partial"),
      s"no map-side combine in the dedup agg:\n${p.take(800)}")
    import org.apache.spark.sql.execution.window.WindowExec
    df.queryExecution.sparkPlan.foreach {
      case w: WindowExec =>
        assert(w.partitionSpec.nonEmpty,
          s"unpartitioned rolling-distinct window:\n$w")
      case _ =>
    }
  }

  test("q165 PIT lookup: the as-of is the merge form — zero join nodes, " +
      "one corpus scan, keyed carry window") {
    val df = Queries.byName("q165_pit_features").build(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join"),
      s"PIT lookup planned as a join (range-join blowup at scale):\n" +
        p.take(800))
    assert("FileScan".r.findAllIn(p).size <= 1,
      s"events scanned more than once:\n${p.take(800)}")
    import org.apache.spark.sql.execution.window.WindowExec
    df.queryExecution.sparkPlan.foreach {
      case w: WindowExec =>
        assert(w.partitionSpec.nonEmpty,
          s"unpartitioned as-of carry window:\n$w")
      case _ =>
    }
  }

  test("q166 bootstrap: one corpus pass — weights in a single projection " +
      "feeding a map-side-combined 64-column agg, no window, no join") {
    val df = Queries.byName("q166_bootstrap_ci").build(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert("FileScan".r.findAllIn(p).size == 1,
      s"documents scanned more than once:\n${p.take(800)}")
    assert(p.contains("partial_sum"),
      s"no map-side combine in the replicate agg:\n${p.take(800)}")
    assert(!p.contains("Window") && !p.contains("Join"),
      s"bootstrap should be a pure agg:\n${p.take(800)}")
    assert(p.contains("RoundRobinPartitioning"),
      s"per-row-heavy weight projection not fanned out (1-task scan " +
        s"on single-row-group files):\n${p.take(800)}")
  }

  test("q156 unpivot: Expand over the aggregated wide table — one pruned " +
      "scan, partial agg, zero joins") {
    val p = plan("q156_unpivot_measures")
    assert(p.contains("Expand"),
      s"unpivot did not plan as Expand:\n${p.take(800)}")
    assert("FileScan".r.findAllIn(p).size == 1,
      s"lineitem scanned more than once:\n${p.take(800)}")
    assert(p.contains("partial"),
      s"no map-side combine in the measure agg:\n${p.take(800)}")
    assert(!p.contains("Join"),
      s"melt should need no join:\n${p.take(800)}")
    assert(!p.contains("l_partkey"),
      s"scan reads unprojected columns:\n${p.take(800)}")
  }

  test("q174 prefix set-similarity join: candidate generation is an " +
      "equi-join (never cartesian/BNLJ), aggs combine map-side") {
    val p = plan("q174_setsim_prefix")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs plan leaked into the similarity join:\n${p.take(1000)}")
    assert(p.contains("partial"), "no map-side combine in df/candidate aggs")
  }

  test("q175 quantile normalization runs window-free (GlobalRank rank " +
      "passes, no per-source or global Window node)") {
    val p = plan("q175_quantile_normalize")
    assert(!p.contains("Window"),
      s"a window crept into the rank path:\n${p.take(1000)}")
    assert(p.contains("BroadcastHashJoin") || p.contains("broadcast"),
      "n_s/N did not ride broadcasts")
  }

  test("q176/q179 graph & NN ops: equi-joins only, no cartesian") {
    Seq("q176_label_propagation", "q179_mutual_nn").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q: non-equi join in the plan:\n${p.take(800)}")
    }
  }

  test("q180 cohort retention is window-free; q182 debounce window " +
      "reads only the narrow event projection") {
    val p180 = plan("q180_cohort_retention")
    assert(!p180.contains("Window"),
      s"cohort triangle should need no window:\n${p180.take(800)}")
    assert(p180.contains("partial"), "no map-side combine in weekly agg")
    val p182 = plan("q182_event_debounce")
    assert(p182.contains("Window"), "debounce lost its lag window")
    assert(!p182.contains("props"),
      s"debounce window carries unprojected payload columns:" +
        s"\n${p182.take(800)}")
  }

  test("q184 conversion latency avoids the buffer-all Percentile " +
      "aggregate; q185 novelty needs no join at all") {
    val p184 = plan("q184_conversion_latency")
    assert(!p184.toLowerCase.contains("percentile"),
      s"buffer-all percentile in the plan:\n${p184.take(800)}")
    val p185 = plan("q185_novelty_curve")
    assert(!p185.contains("Join"),
      s"novelty should be join-free (one h-keyed agg):\n${p185.take(800)}")
    assert(p185.contains("partial"), "no map-side combine in novelty aggs")
  }

  test("q172 phrase match rides a broadcast (1-row phrase), never a " +
      "corpus-wide contains scan; q178 prefix sum is window-free") {
    val p172 = plan("q172_phrase_search")
    assert(p172.contains("BroadcastHashJoin"),
      s"phrase match lost its broadcast:\n${p172.take(800)}")
    assert(!p172.toLowerCase.contains("contains("),
      s"corpus-wide contains scan in the plan:\n${p172.take(800)}")
    val p178 = plan("q178_pps_sample")
    assert(!p178.contains("Window"),
      s"pps prefix sum fell back to a window:\n${p178.take(800)}")
  }

  test("q171 correlated EXISTS/NOT EXISTS decorrelates to semi + anti " +
      "hash joins — no nested-loop, no per-row subquery re-execution") {
    val p = plan("q171_exists_correlated")
    assert(p.contains("LeftSemi"),
      s"EXISTS did not decorrelate to a semi join:\n${p.take(1200)}")
    assert(p.contains("LeftAnti"),
      s"NOT EXISTS did not decorrelate to an anti join:\n${p.take(1200)}")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"nested-loop plan leaked into the decorrelation:\n${p.take(1200)}")
    // the segment predicate must reach the customer scan
    assert(p.contains("PushedFilters") && p.contains("AUTOMOBILE"),
      s"segment filter not pushed to the scan:\n${p.take(1200)}")
  }

  test("q205 deltaSum: ONE corpus exchange (the window's user_id hash " +
      "partitioning, reused by the rollup), no join, partial agg, scan " +
      "pruned to the four consumed columns") {
    val p = plan("q205_delta_sum")
    assert("hashpartitioning".r.findAllIn(p).length == 1,
      s"rollup re-shuffled instead of reusing the window exchange:\n$p")
    assert(!p.contains("Join"), s"join in a window+agg op:\n${p.take(600)}")
    assert(p.contains("partial_"), s"no partial agg:\n${p.take(600)}")
    assert(!p.contains("props#") && !p.contains("event_type#"),
      s"scan reads unconsumed columns:\n${p.take(900)}")
  }

  test("q206 changepoint: totals and argmax ride broadcasts over the " +
      "types x days table — no sort-merge join, partial aggs throughout") {
    val p = plan("q206_changepoint")
    assert(p.contains("BroadcastHashJoin"),
      s"g_max argmax join lost its broadcast:\n${p.take(800)}")
    assert(!p.contains("SortMergeJoin"),
      s"types-sized table planned as SMJ:\n${p.take(800)}")
    assert(p.contains("partial_"), s"no partial agg:\n${p.take(600)}")
  }

  test("q207 chi2 drift: probe mining is a TakeOrdered (never a global " +
      "sort), probes/totals ride broadcasts, cell grid is broadcast-" +
      "joined, aggs map-side combine") {
    val p = plan("q207_chi2_drift")
    assert(p.contains("TakeOrderedAndProject(limit=30"),
      s"probe mining fell back to a global sort:\n${p.take(900)}")
    assert(p.contains("BroadcastHashJoin"),
      s"cell grid lost its broadcast join:\n${p.take(900)}")
    assert(!p.contains("SortMergeJoin"),
      s"SMJ on a probe-bounded table:\n${p.take(900)}")
    assert(p.contains("partial_"), s"no partial agg:\n${p.take(600)}")
  }

  test("q208 k-center: the contraction is one partial+final agg over a " +
      "pruned scan, and each round folds ONE broadcast center into the " +
      "state — no pairwise join anywhere") {
    import QueriesText.{dot, norm}
    import org.apache.spark.sql.functions._
    // the declared query's executed plan starts at checkpointed RDD scans
    // (q201's precedent); gate the two stage shapes directly.
    val base = Tables.embeddings(spark, sf)
      .groupBy("embedding")
      .agg(min("vec_id").as("rep_id"), count(lit(1)).as("n_dup"))
      .select(col("rep_id"), col("n_dup"), col("embedding"),
        norm(col("embedding")).as("nrm"))
    val pc = base.queryExecution.executedPlan.toString
    assert(pc.contains("partial_"), s"contraction not partial:\n$pc")
    assert(!pc.contains("label#"),
      s"contraction scan reads the unused label column:\n$pc")
    val pick = base.orderBy(col("rep_id").asc).limit(1)
      .select(col("rep_id").as("c_id"), col("embedding").as("c_emb"),
        col("nrm").as("c_nrm"))
    val round = base.crossJoin(broadcast(pick))
      .select(col("rep_id"),
        when(col("rep_id") === col("c_id"), lit(-1.0))
          .otherwise(lit(1.0) - dot(col("embedding"), col("c_emb")) /
            (col("nrm") * col("c_nrm"))).as("md"))
    val pr = round.queryExecution.executedPlan.toString
    assert(pr.contains("BroadcastNestedLoopJoin"),
      s"round fold lost its 1-row broadcast:\n$pr")
    assert(!pr.contains("SortMergeJoin") && !pr.contains("CartesianProduct"),
      s"round fold planned a real join:\n$pr")
    // the full declared plan: per-round picks are TakeOrdered(1)
    val full = plan("q208_kcenter_diverse")
    assert(full.contains("TakeOrderedAndProject(limit=1"),
      s"seed pick fell back to a global sort:\n${full.take(600)}")
  }

  test("q209 alpha mix: one partial+final agg to the languages table, " +
      "totals ride a broadcast, scan pruned to lang only") {
    val p = plan("q209_alpha_mix")
    assert(p.contains("partial_"), s"no map-side combine:\n${p.take(600)}")
    assert(!p.contains("SortMergeJoin"),
      s"languages-sized table planned as SMJ:\n${p.take(800)}")
    assert(!p.contains("text#") && !p.contains("doc_id#"),
      s"scan reads unconsumed columns for a lang-only op:\n${p.take(900)}")
  }

  test("q210 fertility rollup: no window, partial aggs — the merge-chain " +
      "shapes are gated on q201's tests (shared helpers)") {
    val p = plan("q210_bpe_fertility")
    assert(!p.contains("windowspecdefinition"),
      s"corpus-sized window in the fertility rollup:\n${p.take(800)}")
    assert(p.contains("partial_"), s"no map-side combine:\n${p.take(600)}")
  }

  test("q211 LTTB: anchor/max tables ride broadcasts, aggs map-side " +
      "combine, no corpus window, no SMJ anywhere") {
    val p = plan("q211_lttb_downsample")
    assert(p.contains("BroadcastHashJoin"),
      s"winner/anchor join lost its broadcast:\n${p.take(900)}")
    assert(!p.contains("SortMergeJoin"),
      s"SMJ on a 16-row-per-type table:\n${p.take(900)}")
    assert(!p.contains("windowspecdefinition"),
      s"corpus-sized window in the downsample:\n${p.take(900)}")
    assert(p.contains("partial_"), s"no map-side combine:\n${p.take(600)}")
  }

  /** Initial physical plan with the AQE wrapper peeled (q104 pattern),
    * for structural (node-level) assertions the toString can't carry.
    */
  private def innerExec(name: String): org.apache.spark.sql.execution.SparkPlan =
    Queries.byName(name).build(spark, sf).queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }

  /** Every Window in `name`'s plan must be KEYED (non-empty partition
    * spec — never a global order) and run over an AGGREGATED input (a
    * HashAggregate somewhere below it — the histogram/contraction table,
    * never raw fact rows). The classic scale-killer for the rank tests
    * and the sweep-line is a window whose input is the events scan.
    */
  private def assertWindowsOverAggregate(name: String): Unit = {
    val windows = innerExec(name).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, s"$name: expected a window in the plan")
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"$name: GLOBAL window (empty partition spec) — single-task sort")
      assert(w.child.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }.isDefined,
        s"$name: window input is not aggregated — it sorts FACT rows:\n$w")
    }
  }

  test("q225 student-t: min-day split broadcast, one partial+final agg, " +
      "no window, no cartesian (the q222 contract on the shared partials)") {
    val p = plan("q225_student_ttest")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"min-day threshold not broadcast:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"),
      s"corpus re-shuffled for a 1-row join:\n${p.take(800)}")
    assert(p.contains("partial"),
      s"no map-side combine on the t-test partials:\n${p.take(600)}")
    assert(!p.contains("windowspecdefinition"),
      s"window in a pure partial+final-agg test:\n${p.take(800)}")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1, s"$exchanges corpus exchanges:\n${p.take(800)}")
  }

  test("q226 MWU: rank windows run per-key over the aggregated value " +
      "HISTOGRAM (partial agg before the exchange), never fact rows") {
    assertWindowsOverAggregate("q226_mannwhitney_u")
    val p = plan("q226_mannwhitney_u")
    assert(p.contains("partial"),
      s"histogram built without map-side combine:\n${p.take(600)}")
  }

  test("q227 KS: ECDF windows run per-key over the aggregated value " +
      "HISTOGRAM (partial agg before the exchange), never fact rows") {
    assertWindowsOverAggregate("q227_ks_test")
    val p = plan("q227_ks_test")
    assert(p.contains("partial"),
      s"histogram built without map-side combine:\n${p.take(600)}")
  }

  test("q228 cramers V: marginals ride broadcasts against the " +
      "category-bounded cells table — one corpus agg, no SMJ, no window") {
    val p = plan("q228_cramers_v")
    assert(p.contains("BroadcastHashJoin"),
      s"marginal joins lost their broadcast:\n${p.take(900)}")
    assert(!p.contains("SortMergeJoin"),
      s"SMJ on the category-sized cells/marginals:\n${p.take(900)}")
    assert(!p.contains("CartesianProduct"),
      s"cartesian in the coefficient tail:\n${p.take(800)}")
    assert(!p.contains("windowspecdefinition"),
      s"window in a pure agg+broadcast op:\n${p.take(800)}")
    assert(p.contains("partial"),
      s"cells agg without map-side combine:\n${p.take(600)}")
  }

  test("q229 interval cover: the lag window runs over the DISTINCT " +
      "(type, ts) contraction — duplicates add 0 by the gap identity — " +
      "never over fact rows; contraction and final sum map-side combine") {
    assertWindowsOverAggregate("q229_interval_cover")
    val p = plan("q229_interval_cover")
    assert(p.contains("partial"),
      s"(type, ts) contraction without map-side combine:\n${p.take(600)}")
    // only the 2 needed columns reach the scan
    assert(p.contains("ReadSchema: struct<ts:") &&
      !p.contains("value#") && !p.contains("user_id#"),
      s"scan not pruned to (ts, event_type):\n${p.take(800)}")
  }

  test("q231 max intersections: the running-sum window runs over the " +
      "DISTINCT boundary contraction (never fact rows); the peak is a " +
      "second frame-only window on the SAME partitioning (r16 — no join, " +
      "no second pass over the boundary subtree)") {
    assertWindowsOverAggregate("q231_max_intersections")
    val p = plan("q231_max_intersections")
    assert(!p.contains("Join"),
      s"q231 regressed to a peak join (the whole-partition max window " +
        s"needs no join):\n${p.take(900)}")
    assert(p.contains("partial"),
      s"boundary contraction without map-side combine:\n${p.take(600)}")
    assert(p.contains("ReadSchema: struct<ts:") &&
      !p.contains("value#") && !p.contains("user_id#"),
      s"scan not pruned to (ts, event_type):\n${p.take(800)}")
  }

  test("q232 bias-corrected V: same shape contract as q228 — broadcast " +
      "marginals, one corpus agg, no SMJ, no window") {
    val p = plan("q232_cramers_v_bc")
    assert(p.contains("BroadcastHashJoin"),
      s"marginal joins lost their broadcast:\n${p.take(900)}")
    assert(!p.contains("SortMergeJoin"),
      s"SMJ on the category-sized cells/marginals:\n${p.take(900)}")
    assert(!p.contains("CartesianProduct"),
      s"cartesian in the coefficient tail:\n${p.take(800)}")
    assert(!p.contains("windowspecdefinition"),
      s"window in a pure agg+broadcast op:\n${p.take(800)}")
    assert(p.contains("partial"),
      s"cells agg without map-side combine:\n${p.take(600)}")
  }

  test("q233 mean z-test: the q222 contract on the shared partials — " +
      "broadcast min-day split, one partial+final agg, no window") {
    val p = plan("q233_mean_ztest")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"min-day threshold not broadcast:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"),
      s"corpus re-shuffled for a 1-row join:\n${p.take(800)}")
    assert(p.contains("partial"),
      s"no map-side combine on the z-test partials:\n${p.take(600)}")
    assert(!p.contains("windowspecdefinition"),
      s"window in a pure partial+final-agg test:\n${p.take(800)}")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1, s"$exchanges corpus exchanges:\n${p.take(800)}")
  }

  test("q234 ema: corpus work ends at the (type, day) partial+final " +
      "agg, d_max rides a broadcast, no window, no SMJ") {
    val p = plan("q234_ema_rate")
    assert(p.contains("BroadcastHashJoin"),
      s"d_max join lost its broadcast:\n${p.take(900)}")
    assert(!p.contains("SortMergeJoin"),
      s"SMJ for a types-sized d_max table:\n${p.take(900)}")
    assert(!p.contains("windowspecdefinition"),
      s"window in a pure agg+broadcast op:\n${p.take(800)}")
    assert(p.contains("partial"),
      s"daily agg without map-side combine:\n${p.take(600)}")
    assert(p.contains("ReadSchema: struct<ts:") &&
      !p.contains("value#") && !p.contains("user_id#"),
      s"scan not pruned to (ts, event_type):\n${p.take(800)}")
  }

  test("q235 sequence count: one per-user corpus agg, no window, no " +
      "join; the regex counting runs on the users-sized table") {
    val p = plan("q235_sequence_count")
    assert(!p.contains("windowspecdefinition"),
      s"window in the per-user fold op:\n${p.take(800)}")
    assert(!p.contains("Join"), s"join in a pure agg op:\n${p.take(800)}")
    assert(p.contains("partial"),
      s"per-user collect without a partial stage:\n${p.take(600)}")
    assert(!p.contains("value#") && !p.contains("props#"),
      s"scan not pruned to (user_id, ts, event_id, event_type):\n" +
        p.take(800))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1, s"$exchanges corpus exchanges:\n${p.take(800)}")
  }

  test("q236 bounding ratio: ONE partial+final agg over a pruned " +
      "3-column scan — no window, no join, a single corpus exchange") {
    val p = plan("q236_bounding_ratio")
    assert(!p.contains("windowspecdefinition"),
      s"window in a pure agg op:\n${p.take(800)}")
    assert(!p.contains("Join"), s"join in a one-agg op:\n${p.take(800)}")
    assert(p.contains("partial"),
      s"boundary agg without map-side combine:\n${p.take(600)}")
    assert(!p.contains("user_id#") && !p.contains("props#") &&
      !p.contains("event_id#"),
      s"scan not pruned to (event_type, ts, value):\n${p.take(800)}")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1, s"$exchanges corpus exchanges:\n${p.take(800)}")
  }

  test("q237 min sample size: the q222 partials economics without the " +
      "split — one partial+final agg, no window, no join") {
    val p = plan("q237_min_sample_size")
    assert(!p.contains("windowspecdefinition"),
      s"window in a pure partial+final-agg op:\n${p.take(800)}")
    assert(!p.contains("Join"), s"join in a one-agg op:\n${p.take(800)}")
    assert(p.contains("partial"),
      s"no map-side combine on the sizing partials:\n${p.take(600)}")
    assert(!p.contains("user_id#") && !p.contains("ts#"),
      s"scan not pruned to (event_type, value):\n${p.take(800)}")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1, s"$exchanges corpus exchanges:\n${p.take(800)}")
  }

  test("q238 sparkbar: corpus work ends at the (type, day) partial+" +
      "final agg; span and spine ride broadcasts; no fact-row window, " +
      "no SMJ; scan pruned to (event_type, ts)") {
    val p = plan("q238_sparkbar")
    assert(!p.contains("windowspecdefinition"),
      s"window in the render pipeline:\n${p.take(800)}")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"global span not broadcast:\n${p.take(900)}")
    assert(!p.contains("SortMergeJoin"),
      s"SMJ on the types-by-16 spine:\n${p.take(900)}")
    assert(!p.contains("CartesianProduct"),
      s"non-broadcast cartesian for the 1-row span:\n${p.take(800)}")
    assert(p.contains("partial"),
      s"daily agg without map-side combine:\n${p.take(600)}")
    assert(p.contains("ReadSchema: struct<ts:") &&
      !p.contains("value#") && !p.contains("user_id#"),
      s"scan not pruned to (ts, event_type):\n${p.take(800)}")
  }

  test("q240 next node: the q235 shape — one per-user corpus agg, the " +
      "distribution and 1-row total on symbols-sized tables, no window") {
    val p = plan("q240_next_node")
    assert(!p.contains("windowspecdefinition"),
      s"window in the per-user fold op:\n${p.take(800)}")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"1-row total not broadcast:\n${p.take(900)}")
    assert(!p.contains("CartesianProduct"),
      s"non-broadcast cartesian for the 1-row total:\n${p.take(800)}")
    assert(p.contains("partial"),
      s"per-user collect without a partial stage:\n${p.take(600)}")
    assert(!p.contains("value#") && !p.contains("props#"),
      s"scan not pruned to (user_id, ts, event_id, event_type):\n" +
        p.take(800))
  }

  test("q241 anova: ONE corpus partial+final agg; the order-pinned " +
      "float fold runs as a k-sized sorted-list fold inside the agg " +
      "(no window at all, never fact rows); single corpus exchange") {
    val p = plan("q241_anova")
    assert(p.contains("partial"),
      s"group partials without map-side combine:\n${p.take(600)}")
    // r16: the ordered prefix-sum WINDOW was replaced by a left fold over
    // sort_array(collect_list(...)) in the final agg — the same IEEE
    // addition sequence with no WindowExec and no second pass; the gate
    // now pins the stronger shape (any window here is a regression)
    val exec = innerExec("q241_anova")
    val wins = exec.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(wins.isEmpty,
      s"q241 regressed to a window for the ordered fold:\n$wins")
    assert(p.contains("collect_list"),
      s"order-pinned sorted-list fold missing (no collect_list in the " +
        s"agg):\n${p.take(800)}")
    assert(!p.contains("user_id#") && !p.contains("props#"),
      s"scan not pruned to (event_type, value):\n${p.take(800)}")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1, s"$exchanges corpus exchanges:\n${p.take(800)}")
  }

  test("q242 corr matrix: all 15 exact partials on ONE partial+final " +
      "agg over a pruned 4-column scan — no window, no join, no " +
      "second pass") {
    val p = plan("q242_corr_matrix")
    assert(!p.contains("windowspecdefinition"),
      s"window in a pure agg op:\n${p.take(800)}")
    assert(!p.contains("Join"), s"join in a one-agg op:\n${p.take(800)}")
    assert(p.contains("partial"),
      s"moment partials without map-side combine:\n${p.take(600)}")
    assert(!p.contains("l_orderkey#") && !p.contains("l_comment#") &&
      !p.contains("l_shipdate#"),
      s"scan not pruned to the 4 measure columns:\n${p.take(800)}")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 0, s"$exchanges hash exchanges in a global " +
      s"agg:\n${p.take(800)}")
  }

  test("q239 bitmap audience: the pair join consumes the DISTINCT " +
      "(type, user) contraction (partial agg before it — raw events " +
      "never join), size lookups ride broadcasts, no window") {
    val p = plan("q239_bitmap_audience")
    assert(!p.contains("windowspecdefinition"),
      s"window in the set-algebra op:\n${p.take(800)}")
    assert(p.contains("BroadcastHashJoin"),
      s"size joins lost their broadcast:\n${p.take(900)}")
    assert(!p.contains("CartesianProduct"),
      s"cartesian in the pair join:\n${p.take(800)}")
    assert(p.contains("partial"),
      s"distinct contraction without map-side combine:\n${p.take(600)}")
    assert(!p.contains("value#") && !p.contains("props#") &&
      !p.contains("ts#"),
      s"scan not pruned to (event_type, user_id):\n${p.take(800)}")
  }

  test("q230 moments: one partial+final decimal power-sum agg over a " +
      "2-column scan — no window, no join") {
    val p = plan("q230_moments")
    assert(p.contains("partial"),
      s"power sums without map-side combine:\n${p.take(600)}")
    assert(!p.contains("windowspecdefinition"),
      s"window in a pure-agg op:\n${p.take(800)}")
    assert(!p.contains("Join"), s"join in a pure-agg op:\n${p.take(600)}")
    assert(!p.contains("user_id#") && !p.contains("event_id#"),
      s"scan reads unconsumed columns:\n${p.take(900)}")
  }
}
