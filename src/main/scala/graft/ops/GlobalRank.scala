package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Distributed running sums over a range order — the one building block
  * for exact order statistics (percentiles, medians, ranks), stride
  * chunking and running totals, without a window and without buffering a
  * group's values in one reducer.
  *
  * Spark's exact `percentile()` is a TypedImperative aggregate: every value
  * of a group is buffered and shipped to that group's single final reducer
  * — with a 3-value group key that is the whole fact table in 3 tasks, tens
  * of GB per reducer at 100 TB (VERDICT r02 flagged q63 as the one
  * remaining scale-killer), and a `Window` with no `partitionBy` funnels
  * the whole table through one task. The scale-safe form: range-partition
  * by (group, order) so each task owns a contiguous slice of one-or-more
  * groups' order ranges, sort within partitions, then derive each row's
  * running value from per-(partition, group) totals. No window, no
  * collect, no single-task stage.
  *
  * Reference behavior replicated: ClickHouse `quantileExact*` /
  * `medianExact` family (the reference's OLAP store exposes exact
  * quantiles; see SURVEY.md §2.4 A10) and the collector's `_chunkify`
  * stride chunking (F12).
  */
object GlobalRank {

  /** Exclusive running sum of `weight` within each `group`, in ascending
    * `order` — the one range-prefix primitive every rank, running count
    * and running sum goes through.
    *
    * Returns `(rows, totals)`. `rows` is `df`'s own columns, with their
    * own types, plus `before` (long): the sum of `weight` over the rows of
    * the same group strictly earlier in `order`. Rows tied on `order` are
    * taken in arbitrary order, so `before` is exact for a unique order (a
    * rank is `weight = lit(1L)` over an order with a unique tiebreak,
    * e.g. `Seq(sig, doc_id)`). `totals` is one row per group: the group
    * columns plus `total` (long), the group's sum of `weight`. `group`
    * names columns of `df`, and a null group value is one group; an empty
    * `group` is one global order. A descending order passes the negated
    * key. `weight` must be non-null and fit a long.
    *
    * Shape: ONE sorted RDD, from which both branches hang, so the range
    * exchange's bounds and map output are shared by construction —
    * correctness does not depend on ReuseExchange firing, and every row
    * sees the partitioning its offset was computed on. Branch one sums
    * each run (a group's rows in one partition) into a cached table of
    * numPartitions × groups-per-partition rows; a non-equi self-join of
    * that table gives each run's offset (the sum over the same group's
    * earlier partitions), and a group-by gives `totals`. Branch two emits
    * every row with its run key and its running sum within the run; the
    * offsets ride a broadcast back onto the rows, joined on the run key —
    * one long, whatever the group's type.
    *
    * Build-time cost: `.rdd` runs jobs inside the query build. With AQE
    * on (the default) it executes the adaptive plan up to its final
    * stage: the range exchange's bounds-sampling job, its map stage, and
    * every shuffle stage below it (BuildJobsSpec: 2 jobs for a scan under
    * the exchange, q33; 3 with an aggregate exchange below it, q202).
    * With AQE off it runs one job, the bounds sampling, which also
    * computes any shuffle below the exchange; the range map stage waits
    * for the query. A lazy form is a change to this one function
    * (ROADMAP item 6).
    */
  def prefixSum(
      df: DataFrame,
      group: Seq[String],
      order: Seq[Column],
      weight: Column): (DataFrame, DataFrame) = {
    val spark = df.sparkSession
    val fields = df.schema.fields.toSeq
    val gIdx = group.map(df.schema.fieldIndex)
    val wIdx = fields.length
    val key = group.map(col) ++ order
    // the weight is projected after the sort, so a literal weight never
    // rides the shuffle
    val sortedRdd = df
      .repartitionByRange(key: _*)
      .sortWithinPartitions(key: _*)
      .select(col("*"), weight.cast("long").as("__w"))
      .rdd
    // a run (one group's rows in one partition) is keyed pid·2^32 + its
    // index in the partition: one long, so the join back onto the rows
    // probes a long-keyed hash relation
    val runKey = StructField("__run", LongType, nullable = false)
    val sumsRdd = sortedRdd.mapPartitionsWithIndex { (pid, it) =>
      val out = Seq.newBuilder[Row]
      var run = pid.toLong << 32
      var head: Row = null
      var s = 0L
      def emit(): Unit = if (head != null) {
        out += Row.fromSeq(Seq[Any](pid, run) ++ gIdx.map(head.get) :+ s)
        run += 1
      }
      it.foreach { r =>
        if (head == null || !sameGroup(gIdx, head, r)) {
          emit(); head = r; s = 0L
        }
        s += r.getLong(wIdx)
      }
      emit()
      out.result().iterator
    }.cache() // numPartitions × groups-per-partition rows. The offsets and
    // the totals each execute this branch; without the cache each one
    // re-runs a full sorted reduce pass over the data. Lifecycle:
    // ContextCleaner unpersists it once the query's RDDs are unreferenced,
    // so builder-scoped caching doesn't accumulate.
    val sums = spark.createDataFrame(sumsRdd, StructType(
      StructField("__pid", IntegerType, nullable = false) +: runKey +:
        gIdx.map(fields(_)) :+
        StructField("__sum", LongType, nullable = false)))
    // the group as one struct column: struct equality is null-safe, as
    // `sameGroup` is, so a null group's runs in later partitions get the
    // earlier runs' sums (`<=>` on the columns would hash the join on
    // derived keys, which the aggregate's grouping could not reuse)
    val gKey = if (group.isEmpty) Nil else Seq("__g")
    val keyed = sums.select(col("*") +:
      gKey.map(k => struct(group.map(col): _*).as(k)): _*)
    val offsets = keyed.as("a")
      .join(keyed.as("b"), gKey.foldLeft(col("b.__pid") < col("a.__pid")) {
        (c, k) => c && col(s"a.$k") === col(s"b.$k") }, "left")
      // grouped by the group key too: the join's partitioning on it then
      // satisfies the aggregate, with no second exchange
      .groupBy(("__run" +: gKey).map(c => col(s"a.$c")): _*)
      .agg(coalesce(sum(col("b.__sum")), lit(0L)).as("__off"))
      .select("__run", "__off")
    val local = sortedRdd.mapPartitionsWithIndex { (pid, it) =>
      var run = (pid.toLong << 32) - 1
      var head: Row = null
      var s = 0L
      it.map { r =>
        if (head == null || !sameGroup(gIdx, head, r)) {
          run += 1; head = r; s = 0L
        }
        val out = new Array[Any](wIdx + 2)
        out(0) = run; out(wIdx + 1) = s
        var i = 0
        while (i < wIdx) { out(i + 1) = r.get(i); i += 1 }
        s += r.getLong(wIdx)
        new GenericRow(out): Row
      }
    }
    val rows = spark.createDataFrame(local, StructType(runKey +: fields :+
        StructField("__local", LongType, nullable = false)))
      .join(broadcast(offsets), Seq("__run"))
      .select(fields.map(f => col(s"`${f.name}`")) :+
        (col("__off") + col("__local")).as("before"): _*)
    val totals = sums.groupBy(group.map(col): _*)
      .agg(sum("__sum").as("total"))
    (rows, totals)
  }

  private def sameGroup(gIdx: Seq[Int], a: Row, b: Row): Boolean =
    gIdx.forall(i => a.get(i) == b.get(i))

  /** Exact linear-interpolated percentiles per group, distributed.
    *
    * `percentages` may be ANY decimal literals, including inexactly
    * representable ones (0.9, 0.99): both engines parse the same literal
    * to the identical IEEE double, compute the identical
    * `pos = q·(n−1)` product, and apply the identical interpolation, so
    * no exact-representability precondition is needed. The weighted form
    * `(hi − pos)·v_lo + (pos − lo)·v_hi` replicates Spark's
    * `Percentile.getPercentile` AND is bit-for-bit what DuckDB's
    * `quantile_cont` computes — verified empirically against DuckDB over
    * 16 413 random non-tie integer-value cells with
    * q ∈ {0.5, 0.75, 0.9, 0.95, 0.99} (0 mismatches; the lerp form
    * `v_lo + (pos−lo)·(v_hi−v_lo)` mismatched 2 512 of them, so the FORM
    * is load-bearing — do not "simplify" it). Returns
    * `(g string, q double, pct double)` — one row per group × percentage.
    * One strengthening over Spark's form: when v_lo == v_hi the exact
    * value is returned directly instead of through the weighted form,
    * which can land 1 ulp low — see the in-line note. Results are
    * hash-identical to the single-reducer aggregate they replace EXCEPT
    * in that v_lo == v_hi case, where the exact value is returned instead
    * of Percentile's occasionally-1-ulp-low weighted result (matching
    * DuckDB, which also returns the exact value there).
    *
    * Cost at scale: one [[prefixSum]] — one full shuffle of narrow
    * (group, value, weight 1) rows, two reduce passes over it and tiny
    * broadcast joins.
    * Compare: the TypedImperative form shuffles the same pairs but then
    * concentrates each group on ONE reducer; here every stage is parallel.
    */
  def exactPercentiles(
      df: DataFrame,
      group: Column,
      value: Column,
      percentages: Seq[Double]): DataFrame = {
    val (ranked, totals) = prefixSum(
      df.select(group.cast("string").as("g"), value.cast("double").as("v")),
      Seq("g"), Seq(col("v")), lit(1L))
    // totals per group → target ranks lo=floor(q·(n−1)), hi=ceil(q·(n−1))
    val targets = totals
      .select(col("g"), col("total").as("n"),
        explode(array(percentages.map(lit(_)): _*)).as("q"))
      .withColumn("pos", col("q") * (col("n") - lit(1L)))
      .withColumn("lo", floor(col("pos")).cast("long"))
      .withColumn("hi", ceil(col("pos")).cast("long"))
    val needed = targets
      .select(col("g"), col("q"), col("pos"), col("lo"), col("hi"),
        explode(array(col("lo"), col("hi"))).as("rank"))
    ranked.withColumnRenamed("before", "rank")
      .join(broadcast(needed), Seq("g", "rank"))
      .groupBy("g", "q")
      .agg(first("pos").as("pos"), first("lo").as("lo"), first("hi").as("hi"),
        max(when(col("rank") === col("lo"), col("v"))).as("vlo"),
        max(when(col("rank") === col("hi"), col("v"))).as("vhi"))
      .withColumn("pct",
        // vlo == vhi short-circuit: the weighted form (hi−pos)·v +
        // (pos−lo)·v is 1 ulp BELOW v for some (pos, v) even though the
        // weights sum to 1 exactly — and DuckDB's quantile_cont returns
        // v exactly in that case (common for discrete values), so any
        // downstream floor/quantization straddling the boundary would
        // diverge cross-engine. Both engines return exactly v here.
        when(col("lo") === col("hi") || col("vlo") === col("vhi"),
            col("vlo"))
          .otherwise((col("hi") - col("pos")) * col("vlo") +
            (col("pos") - col("lo")) * col("vhi")))
      .select("g", "q", "pct")
  }

  /** Exact WEIGHTED quantiles per group, distributed — ClickHouse
    * `quantileExactWeighted` parity (the reference's engine ships weighted
    * quantiles first-class; unweighted exact is [[exactPercentiles]]).
    *
    * Semantics (discrete / type-1, the cross-engine-exact form): for each
    * group with total weight W and level q (as integer ppm), the SMALLEST
    * value v whose inclusive cumulative weight reaches the level:
    * `cumW(≤ v) · 1e6 ≥ q_ppm · W`. All-integer — no float level math, so
    * DuckDB replays it bit-identically via a window cumulative sum. The
    * result is invariant to tie order among equal values: the qualifying
    * set is a suffix of the value order, and whether ANY row of value v
    * qualifies depends only on W(≤ v) (the last tie row carries it), so
    * `min(v)` is well-defined under both row- and range-framed cumsums.
    * Weight-k rows behave exactly like k repeated rows (spec-pinned).
    *
    * Scale shape — [[prefixSum]] with weights (`cum_w = before + w`):
    * ONE range exchange of the narrow (g, v, w) table, then a broadcast
    * (group × level) target join + filter + min agg. No window over the fact rows, no single-reducer group
    * buffering, every stage parallel. Comparisons run in DECIMAL:
    * cumW·1e6 and q_ppm·W both reach ~1e19 at 100 TB token weights, past
    * long range (DuckDB's HUGEINT sums are safe by default; the Spark
    * side must widen explicitly).
    *
    * Returns `(g string, q_ppm int, wq double)` — one row per group ×
    * level. Weights must be non-negative longs.
    */
  def weightedQuantiles(
      df: DataFrame,
      group: Column,
      value: Column,
      weight: Column,
      qPpms: Seq[Int]): DataFrame = {
    // r16 (guide §2.3): weight-k rows behave exactly like k repeated rows
    // (spec-pinned), so equal (g, v) rows collapse to one row summing the
    // weights before the range exchange — a map-side-combinable agg; the
    // cumulative-weight threshold test is unchanged on the contracted
    // table (callers pass bounded value domains — q202's doc lengths —
    // where the contraction is large; for near-unique values use
    // exactPercentiles' per-row machinery instead).
    val (rows, totals) = prefixSum(
      df.select(group.cast("string").as("g"), value.cast("double").as("v"),
          weight.cast("long").as("w"))
        .groupBy("g", "v").agg(sum("w").as("w")),
      Seq("g"), Seq(col("v")), col("w"))
    val targets = totals.select(col("g"), col("total").as("wt"),
      explode(array(qPpms.map(lit(_)): _*)).as("q_ppm"))
    rows.join(broadcast(targets), Seq("g"))
      .filter((col("before") + col("w")).cast("decimal(20,0)") *
        lit(1000000L) >=
        col("q_ppm").cast("decimal(7,0)") * col("wt").cast("decimal(20,0)"))
      .groupBy("g", "q_ppm")
      .agg(min("v").as("wq"))
  }
}
