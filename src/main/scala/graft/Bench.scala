package graft

/** Benchmark main. Prints the full per-query JSON early, writes the same
  * JSON to bench_out.json in the cwd, and prints a SHORT total line LAST so
  * a bounded tail-capture of stdout always contains one complete parseable
  * JSON object (round-1's single 3.4 KB line was truncated by the driver's
  * tail window → "parsed": null; see VERDICT.md "Next round" #1).
  */
object Bench {

  /** Pinned cross-round trend subset (VERDICT r11 #7): 50 queries FROZEN
    * as of round 12, spanning every tier (scan/filter/join/agg/window/
    * scalar/text/dedup/ANN/time/curation), all present since round 9 or
    * earlier. The registry grows every round (~6 s steady-state/round),
    * so the full-surface total is a moving target; `core50_total` is the
    * same engine measured on the same work each round — the trend number.
    * DO NOT edit this list (that would break the trend); if a member is
    * ever removed from the registry, the artifact's core50_n records the
    * shrunken intersection.
    */
  val core50: Set[String] = Set(
    "q01_scan_project", "q02_filter_range", "q05_group_count",
    "q06_group_measures", "q08_count_distinct", "q09_rollup",
    "q10_lookup_join", "q11_anti_join", "q13_inner_join", "q14_left_join",
    "q15_range_join", "q17_regex_extract", "q19_domain_parse",
    "q21_topk_per_group", "q23_running_total", "q25_page_offset",
    "q28_union_all", "q30_epoch_to_date", "q32_round", "q35_explode",
    "q37_json_fields", "q39_tumbling_window", "q40_text_dedup",
    "q41_cosine_topk", "q43_lang_id", "q45_token_count", "q47_minhash_sig",
    "q48_ngram_jaccard", "q50_embed_neardup", "q53_minhash_band_pairs",
    "q55_sessionize", "q56_cube", "q61_pivot", "q63_percentiles",
    "q65_window_family", "q70_rolling_hash", "q72_top_bigrams",
    "q76_date_spine", "q79_event_funnel", "q82_salted_agg",
    "q83_salted_join", "q84_topk_high_card", "q87_decontaminate",
    "q92_dedup_components", "q95_asof_join", "q98_argmax_latest",
    "q103_tfidf_topterms", "q111_windowed_funnel", "q119_semantic_dedup",
    "q130_substring_dedup")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // bench contract runs local[32] (builder prompt); env still overrides
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Absorb one-time session costs (scheduler, codegen infra, shuffle
    // machinery, parquet reader classes) so per-query timings measure the
    // queries, not JVM startup. Touches no benchmark table data paths'
    // OS cache unfairly: the driver re-reads each table per query anyway.
    locally {
      import org.apache.spark.sql.functions._
      val w = org.apache.spark.sql.expressions.Window.orderBy("id")
      spark.range(0, 100000).toDF("id")
        .withColumn("g", pmod(col("id"), lit(7)))
        .withColumn("rn", row_number().over(w))
        .groupBy("g").agg(count(lit(1)), sum("rn"))
        .count()
      spark.range(0, 1000).toDF("id")
        .select(md5(col("id").cast("string")).as("h"))
        .filter(length(col("h")) > 0)
        .write.format("noop").mode("overwrite").save()
    }
    // Optional dev filter: SPARK_GRAFT_QUERIES=q09_rollup,q37_json_fields
    val filter = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).toSet)
    val selected = filter match {
      case Some(f) => SparkEntry.queries.filter { case (n, _) => f(n) }
      case None    => SparkEntry.queries
    }
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    val warmups = sys.env.getOrElse("SPARK_GRAFT_WARMUPS", "1").toInt
    // N timed runs per query, executed as N INTERLEAVED SWEEPS over the
    // whole registry (sweep 1 runs every query once, then sweep 2, ...)
    // rather than N consecutive runs per query, preceded by one declared
    // UNTIMED warmup sweep (JMH-style). The warmup sweep pays each query's
    // one-time Janino/JIT codegen compile (measured 0.2-1.5s/query — pure
    // driver-side compilation, not engine work; a recurring-query
    // warehouse pays it once per plan, not per execution); the timed
    // sweeps are all steady-state engine latency. Interleaving is the
    // contention fix the median alone can't provide: with consecutive
    // runs, a host-load burst longer than one query's window poisons ALL
    // of its runs (driver round-5 measured q32 at [15.5, 8.4, 5.7] s vs
    // 0.8 s quiet — every run inside one burst, so the median kept the
    // spike). With sweeps ~60 s apart, a burst covers each query at most
    // once — and because all 3 timed runs are steady-state (warmup took
    // the compile), the median has two clean runs to fall back on and
    // discards the poisoned one entirely (measured: a 40 s × 32-thread
    // mid-run burst moved the headline +18% without the warmup sweep,
    // within noise with it). Warmup count, runs, and aggregation are all
    // declared in the artifact; warmup times are published in
    // warmup_sec so the compile cost stays visible. Each run executes
    // the FULL declared plan via a noop datasource write (count() would
    // let Catalyst prune projection-only expressions and drop final sorts
    // under the aggregate — ADVICE r01).
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val warmRuns =
      scala.collection.mutable.LinkedHashMap[String, Vector[Double]]()
    val allRuns =
      scala.collection.mutable.LinkedHashMap[String, Vector[Double]]()
    // TEST HOOK (labeled in the artifact, inert unless set): comma-list of
    // TIMED sweep indices during which 2×-cpu busy threads run, e.g.
    // SPARK_GRAFT_BURST=1,2 poisons timed sweeps 1 and 2 — the exact
    // two-poisoned-sweeps failure mode the outlier re-sweep exists for
    // (driver r12: q196's 59.8 s survived a median of 3). Used to
    // demonstrate, deterministically, that the re-swept median matches
    // the quiet-host median; external load generators can't align with
    // sweep boundaries reliably.
    val burstSweeps: Set[Int] = sys.env.get("SPARK_GRAFT_BURST")
      .map(_.split(",").map(_.trim.toInt).toSet).getOrElse(Set.empty)
    def withBurst[T](active: Boolean)(f: => T): T =
      if (!active) f
      else {
        val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
        val burners = (1 to 2 * Runtime.getRuntime.availableProcessors())
          .map { _ =>
            val t = new Thread(() => {
              var x = 0L
              while (!stop.get()) { x += 1; if (x == Long.MaxValue) x = 0 }
            })
            t.setDaemon(true); t.start(); t
          }
        try f finally { stop.set(true); burners.foreach(_.join(100)) }
      }
    (1 to warmups + runs).foreach { sweep =>
      val timed = sweep > warmups
      withBurst(timed && burstSweeps(sweep - warmups)) {
      selected.foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val dt = (System.nanoTime() - t0) / 1e9
          val tgt = if (timed) allRuns else warmRuns
          tgt(name) = tgt.getOrElse(name, Vector.empty) :+ dt
          // "errors" unambiguously means NO timing exists for that query: a
          // flaky query that succeeded on any timed sweep is timed and
          // removed from errors (ADVICE r02).
          if (timed) errors.remove(name)
        } catch {
          case e: Throwable if !allRuns.contains(name) =>
            // Escape the whole control range plus quote/backslash: Spark
            // exception messages carry \r\t etc., any of which would make
            // the artifact unparseable (ADVICE r02).
            errors(name) =
              e.toString.take(200).replaceAll("[\\x00-\\x1f\"\\\\]", " ")
          case _: Throwable => () // already timed on an earlier sweep
        }
      }
      }
    }
    // Headline = sum of per-query MEDIANS (VERDICT r04 #2) over the timed
    // sweeps: with the compile already paid in the warmup sweep, all timed
    // runs are steady-state, so the median tolerates one contention-spiked
    // run per query outright. Min stays in the artifact as the
    // steady-state floor.
    def median(ts: Seq[Double]): Double = {
      val s = ts.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    // OUTLIER RE-SWEEP (VERDICT r12 #2): interleaved sweeps + median
    // reject ONE poisoned run per query, but a host burst long enough to
    // cover a query in TWO sweeps defeats the median (driver r12 artifact:
    // q196 read [1.68, 59.8, 3.49] in one poisoned window and a second
    // burst elsewhere pushed its 59.8 into other queries' medians). After
    // the timed sweeps, any query whose median exceeds RESWEEP_K × its own
    // min by more than RESWEEP_ABS seconds is steady-state-inconsistent —
    // its min PROVES the engine can run it that fast, so the gap is
    // contention, not the query — and gets up to RESWEEP_MAX re-runs, each
    // replacing that query's worst remaining sample IF faster (a re-run
    // that itself bursts is discarded, never inserted). A fixed cheap
    // PLACEBO query runs first in every re-sweep round and its times are
    // published (placebo_sec) as the quiet-host witness for the
    // replacement window — the measurement-hygiene discipline from the
    // r12 tokenHash A/B. Original pre-replacement vectors for every
    // flagged query are kept in presweep_sec so nothing is silently
    // rewritten; runs_sec is the post-replacement vector the stats use.
    val resweepK = 2.0
    val resweepAbs = 0.3
    val resweepMax = sys.env.getOrElse("SPARK_GRAFT_RESWEEPS", "2").toInt
    def inconsistent(ts: Vector[Double]): Boolean =
      ts.nonEmpty && median(ts) > resweepK * ts.min &&
        median(ts) - ts.min > resweepAbs
    val presweep = scala.collection.mutable.LinkedHashMap[String, Vector[Double]]()
    val resweepRuns = scala.collection.mutable.LinkedHashMap[String, Vector[Double]]()
    var placeboSec = Vector.empty[Double]
    val placebo = selected.find { case (n, _) =>
      allRuns.get(n).exists(ts => !inconsistent(ts) && ts.min < 1.0) }
    var resweepRound = 0
    while (resweepRound < resweepMax &&
        allRuns.exists { case (_, ts) => inconsistent(ts) }) {
      resweepRound += 1
      placebo.foreach { case (_, pfn) =>
        val t0 = System.nanoTime()
        try {
          pfn(spark, sfDir).write.format("noop").mode("overwrite").save()
          placeboSec :+= (System.nanoTime() - t0) / 1e9
        } catch { case _: Throwable => () }
      }
      selected.foreach { case (name, fn) =>
        val ts = allRuns.getOrElse(name, Vector.empty)
        if (inconsistent(ts)) {
          presweep.getOrElseUpdate(name, ts)
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            val dt = (System.nanoTime() - t0) / 1e9
            resweepRuns(name) =
              resweepRuns.getOrElse(name, Vector.empty) :+ dt
            val worst = ts.indexOf(ts.max)
            if (dt < ts(worst)) allRuns(name) = ts.updated(worst, dt)
          } catch { case _: Throwable => () } // keep the original samples
        }
      }
    }
    val medians = allRuns.map { case (k, ts) => k -> median(ts) }
    val mins = allRuns.map { case (k, ts) => k -> ts.min }
    def jmap(m: scala.collection.Map[String, Double]): String =
      m.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    // Per-run times make host-contention spikes self-evident from the
    // artifact alone (a spiked run next to two quiet ones is contention; 3
    // uniformly slow runs is a regression) — VERDICT r03 finding #1.
    val runsSec = allRuns.map { case (k, ts) =>
      s"\"" + k + "\":" + ts.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val warmupSec = warmRuns.map { case (k, ts) =>
      s"\"" + k + "\":" + ts.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val presweepSec = presweep.map { case (k, ts) =>
      s"\"" + k + "\":" + ts.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val resweepSec = resweepRuns.map { case (k, ts) =>
      s"\"" + k + "\":" + ts.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val placeboJson = placeboSec.mkString("[", ",", "]")
    val placeboName = placebo.map(p => "\"" + p._1 + "\"").getOrElse("null")
    val errs = errors.map { case (k, v) => s"\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = medians.values.sum
    val totalMin = mins.values.sum
    val c50m = medians.filter { case (k, _) => core50(k) }
    val core50Total = c50m.values.sum
    val core50Min =
      mins.filter { case (k, _) => core50(k) }.values.sum
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"warmups":$warmups,"agg":"median","exec":"noop-write","total_min":$totalMin,"core50_total":$core50Total,"core50_min":$core50Min,"core50_n":${c50m.size},"resweep_rounds":$resweepRound,"resweep_k":$resweepK,"resweep_abs":$resweepAbs,"burst_injected":${burstSweeps.toList.sorted.mkString("[", ",", "]")},"placebo":$placeboName,"placebo_sec":$placeboJson,"presweep_sec":$presweepSec,"resweep_sec":$resweepSec,"queries":${jmap(medians)},"queries_min":${jmap(mins)},"runs_sec":$runsSec,"warmup_sec":$warmupSec,"errors":$errs,"sf":"$sfDir"}"""
    // full artifact: stdout (early) + file (always recoverable)
    println(full)
    try {
      val p = java.nio.file.Paths.get("bench_out.json")
      java.nio.file.Files.write(p, full.getBytes("UTF-8"))
    } catch { case _: Throwable => () } // file write is best-effort
    spark.stop()
    // LAST line: short form guaranteed to fit a bounded tail capture.
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"warmups":$warmups,"agg":"median","total_min":$totalMin,"core50_total":$core50Total,"core50_min":$core50Min,"core50_n":${c50m.size},"resweep_rounds":$resweepRound,"nresweep":${presweep.size},"nqueries":${allRuns.size},"nerrors":${errors.size},"sf":"$sfDir","detail":"bench_out.json"}""")
  }
}
