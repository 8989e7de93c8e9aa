package graft

import java.nio.file.{Files, Paths}

/** A query build resolves its tables and plans; it runs no Spark job.
  * Every declared query is built twice on one session at sf0.01: the
  * first build pays the once-per-session work (schema inference in
  * `Tables.t`, `LayoutCache` installs, the `events.ts` magnitude
  * check), and the second build must run 0 jobs, except the
  * queries below. Each exception names its job count on the second build
  * and why the build runs them; a count that changes, or an exception
  * that runs 0 jobs, fails too.
  */
class BuildJobsSpec extends SparkSpec {

  private val sf001 = "/root/testdata/sf0.01"

  private val Cut = "a Materialize.cut runs inside the build, each cut " +
    "with its AQE stage jobs: lineage cuts of a driver loop with a " +
    "convergence action (connected components, pagerank, label " +
    "propagation, k-core, BPE, k-center) and their per-round actions, " +
    "stand-ins for a production table write, and the cuts of a subtree " +
    "whose consumers share no exchange (SCALE.md, materialization cuts)"
  private val SqlText = "SQL text over Tables.sqlFrom: Spark infers each " +
    "parquet.`path` relation's schema at analysis, one job per read"
  private val Action = "a driver-side action of the algorithm: the typed " +
    "sketch head() (q106, q214, q217), the PQ codebook and ANN probe " +
    "collect() (q110)"

  /** query → (jobs on the second build, reason). */
  private val exceptions: Map[String, (Int, String)] = Seq(
    Cut -> Seq(
      "q53_minhash_band_pairs" -> 3,
      "q92_dedup_components" -> 19,
      "q93_cluster_representatives" -> 19,
      "q117_incremental_ann" -> 9,
      "q119_semantic_dedup" -> 20,
      "q131_phash_neardup" -> 1,
      "q132_audio_neardup" -> 1,
      "q133_video_scene_dedup" -> 1,
      "q142_quality_yield" -> 3,
      "q144_ccnet_buckets" -> 10,
      "q145_dedup_threshold_sweep" -> 17,
      "q146_source_overlap" -> 4,
      "q147_containment_verify" -> 12,
      "q148_drift_audit" -> 2,
      "q150_boilerplate_ngrams" -> 3,
      "q155_interpolate" -> 2,
      "q158_keep_policy" -> 2,
      "q160_spearman_agreement" -> 1,
      "q163_winsorized_mean" -> 1,
      "q165_pit_features" -> 2,
      "q167_pagerank_canon" -> 15,
      "q170_triangle_census" -> 11,
      "q172_phrase_search" -> 3,
      "q174_setsim_prefix" -> 3,
      "q175_quantile_normalize" -> 1,
      "q176_label_propagation" -> 14,
      "q180_cohort_retention" -> 2,
      "q195_boilerplate_strip" -> 2,
      "q196_kcore_peel" -> 25,
      "q200_bigram_lift" -> 3,
      "q201_bpe_encode" -> 23,
      "q203_rendezvous_shard" -> 2,
      "q207_chi2_drift" -> 5,
      "q208_kcenter_diverse" -> 26,
      "q210_bpe_fertility" -> 25,
      "q211_lttb_downsample" -> 9,
      "q212_curation_funnel" -> 32,
      "q219_trend_line" -> 2,
      "q228_cramers_v" -> 2,
      "q232_cramers_v_bc" -> 2),
    SqlText -> Seq(
      "q60_grouping_sets" -> 1,
      "q67_in_subquery" -> 2,
      "q68_scalar_subquery" -> 2,
      "q171_exists_correlated" -> 4),
    Action -> Seq(
      "q106_cms_heavy_hitters" -> 3,
      "q110_ann_pq" -> 2,
      "q214_topk_spacesaving" -> 3,
      "q217_topk_weighted" -> 2)
  ).flatMap { case (why, qs) => qs.map { case (q, n) => q -> (n, why) } }.toMap

  test("a second build of every declared query runs 0 jobs, except the " +
    "listed ones") {
    val t0 = System.nanoTime()
    val jobs = Queries.all.map { q =>
      q.build(spark, sf001)
      q.name -> jobsAndStagesOf(q.build(spark, sf001))._1
    }.toMap
    val wall = (System.nanoTime() - t0) / 1e9
    info(f"${jobs.size} queries built twice in $wall%.1f s")
    val wrong = jobs.collect {
      case (q, n) if n != exceptions.get(q).fold(0)(_._1) =>
        s"$q: $n jobs (listed: ${exceptions.get(q).fold(0)(_._1)})"
    }
    assert(wrong.isEmpty, wrong.toSeq.sorted.mkString("\n", "\n", ""))
    assert(exceptions.keySet.subsetOf(jobs.keySet),
      s"listed but not declared: ${exceptions.keySet -- jobs.keySet}")
  }

  test(".localCheckpoint( appears under src/main only in " +
      "ops/Materialize.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val hits = graft.ops.Nio.walk(root)
      .filter(_.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains(".localCheckpoint("))
      .map(p => root.relativize(p).toString)
    assert(hits == Seq("graft/ops/Materialize.scala"), hits.mkString("\n"))
  }
}
