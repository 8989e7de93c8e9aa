package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.QueriesCuration
import graft.ops.{GlobalRank, Materialize, Scalars}

/** The full training-data curation chain as ONE pipeline:
  * quality classify (q120) → near-dup representatives (q92/q93 via
  * DedupPipeline) → benchmark decontamination (q87) → source mix (q90) →
  * token-budget packing (q86), with a per-stage yield funnel (q157's
  * shape, generalized across families).
  *
  * Why this exists (VERDICT r12 #5, the DedupPipeline argument one level
  * up): the DECLARED queries are standalone by driver contract, so each
  * re-scans the corpus. A real curation run never does that — at 100 TB
  * the difference between one corpus scan per STAGE and one per QUERY is
  * the whole job cost. Here the corpus parquet is scanned ONCE into an
  * eager materialization (`Materialize.cut` standing in for the
  * production parquet write, as at DedupPipeline's index cut points); the
  * three text-derived verdict families (token classifier, shingle closure,
  * 5-gram contamination) each read that materialization, land in ONE
  * narrow per-doc flag table (doc_id, source, lang, counts, 4 booleans)
  * that is materialized once, and everything downstream — funnel, kept
  * set, packing — runs on narrow rows with the text long gone.
  *
  * Semantics: each flag is the CORPUS-GLOBAL verdict of its standalone
  * query (not a verdict over the previous stage's survivors), and the
  * funnel composes them cumulatively in stage order — exactly q157's
  * design. That is what makes stage-level parity with the declared
  * queries a meaningful spec (`CurationPipelineSpec`): the stage
  * functions below are the SINGLE implementation, called by
  * q86/q87/q90/q120 too, so the pipeline and the declared surface cannot
  * drift.
  */
object CurationPipeline {

  /** Everything downstream of one corpus scan. `flags` is the narrow
    * per-doc verdict table every consumer reads.
    */
  final case class CurationOutputs(
      flags: DataFrame,
      yieldTable: DataFrame,
      kept: DataFrame,
      packed: DataFrame)

  /** Stage 1 — q120's hashing-trick quality classifier: per doc, token
    * count, summed per-token weight, and the keep verdict (score > 0).
    * Input must already be fanned out; output is narrow
    * `(doc_id, n_tokens, score, keep)`.
    */
  def qualityScores(corpus: DataFrame): DataFrame = {
    val tok = corpus
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val f = Scalars.tokenHash(col("w")) % lit(256L)
    val wgt = (f * lit(2971L) + lit(1129L)) % lit(1997L) - lit(998L)
    tok.select(col("doc_id"), wgt.as("wgt"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("wgt")).as("score"))
      .select(col("doc_id"), col("n_tokens"), col("score"),
        (col("score") > 0).as("keep"))
  }

  /** Stage 2 — near-dup survivors: q93's representative rule over the
    * DedupPipeline closure. `(doc_id)` of survivors; non-colliding docs
    * survive as their own cluster.
    *
    * r17 (guide §1.2/§2.4): the labels table is consumed ONCE here, so
    * the extra cut it carried (a leftover of a
    * two-consumer labels table) was a pure job; and since
    * only survivor doc_ids are needed (not q93's ordered dump), the
    * per-cluster rank window is replaced by the aggregation-form argmax
    * (q158's max(struct) idiom — map-side combinable, no window
    * exchange+sort). Same rule: longest text wins, doc_id tiebreak.
    * CurationPipelineSpec pins equality with q93's representative set.
    */
  def dedupSurvivors(corpus: DataFrame): DataFrame = {
    val l = DedupPipeline.labels(corpus)
    corpus.select(col("doc_id"), col("n_chars"))
      .join(l, col("doc_id") === l("v"), "left")
      .withColumn("cluster", coalesce(col("component"), col("doc_id")))
      .groupBy("cluster")
      .agg(max(struct(col("n_chars").as("n_chars"),
        (-col("doc_id")).as("nd"))).as("w"))
      .select((-col("w.nd")).as("doc_id"))
  }

  /** Stage 3 — q87's benchmark decontamination, doc-level: corpus docs
    * sharing any 5-gram with the benchmark set. Benchmark shingles
    * broadcast; corpus-side match is a semi-join feeding a doc-level
    * distinct — never pairwise. Docs under 5 tokens carry no 5-gram and
    * cannot be contaminated. Returns `(doc_id)` of CONTAMINATED docs.
    */
  def contaminatedDocs(corp: DataFrame, bench: DataFrame): DataFrame = {
    def shingles(df: DataFrame) = df
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 5)
      .select(col("doc_id"), explode(Scalars.kgrams("t", 5)).as("sh"))
    val b = shingles(bench).select("sh").distinct()
    shingles(corp)
      .join(broadcast(b), Seq("sh"), "left_semi")
      .select("doc_id").distinct()
  }

  /** Stage 4 — q90's per-source mix-rate keep flag: deterministic doc_id
    * bucket under the source's sampling rate. A Column, evaluable on any
    * frame carrying (doc_id, source) — no corpus scan of its own.
    */
  def mixKept: Column = {
    val srcNum = substring(col("source"), 4, 10).cast("int")
    val rate = lit(20) + pmod(srcNum, lit(5)) * 20
    QueriesCuration.bucket("mix:") < rate
  }

  /** Stage 5 — q86's token-budget packing over a narrow
    * `(doc_id, tokens)` table: doc_id-ordered docs fill fixed 2000-token
    * bins via the distributed prefix sum (never a global window).
    */
  def packBins(toks: DataFrame): DataFrame =
    GlobalRank.prefixSum(toks, Nil, Seq(col("doc_id")), col("tokens"))._1
      .withColumn("bin", Scalars.longDiv("before", 2000L))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum("tokens").as("sum_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("bin")

  private val stageNames = Seq(
    "quality_classifier", "dedup_representative", "decontaminate",
    "source_mix")

  /** The pipeline: one corpus scan, one narrow flag materialization,
    * every consumer. Benchmark holdout is q87's convention
    * (doc_id % 100 = 0); those docs are out of scope for the funnel.
    */
  def run(docs: DataFrame): CurationOutputs = {
    // the ONE corpus scan — the cut stands in for the production
    // write of the scanned/normalized corpus snapshot (DedupPipeline's
    // cut-point discipline); every family below reads this, not parquet
    val corpus = graft.Tables.fanOut(docs).transform(Materialize.cut)
    val isBench = col("doc_id") % 100 === 0
    val bench = corpus.filter(isBench)
    val corp = corpus.filter(!isBench)

    val q = qualityScores(corp)
      .select(col("doc_id"), col("n_tokens"), col("keep").as("k_quality"))
    val reps = dedupSurvivors(corp).withColumn("k_dedup", lit(true))
    val con = contaminatedDocs(corp, bench)
      .withColumn("contaminated", lit(true))

    // narrow per-doc verdict table — the second (and last)
    // materialization; text is gone from here on
    val flags = corp
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
      .join(q, Seq("doc_id"), "left")
      .join(reps, Seq("doc_id"), "left")
      .join(con, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("k_quality"), lit(false)).as("k_quality"),
        coalesce(col("k_dedup"), lit(false)).as("k_dedup"),
        (!coalesce(col("contaminated"), lit(false))).as("k_decontam"),
        mixKept.as("k_mix"))
      .transform(Materialize.cut)

    // q157's funnel over the cumulative conjunctions, stage order fixed
    val conj = Seq(col("k_quality"), col("k_dedup"), col("k_decontam"),
      col("k_mix"))
    val cums = conj.inits.toSeq.reverse.tail // Seq(1), Seq(1,2), ...
    val a = flags.agg(
      count(lit(1)).as("n0"),
      cums.zipWithIndex.map { case (cs, i) =>
        sum(when(cs.reduce(_ && _), 1L).otherwise(0L)).as(s"n${i + 1}")
      }: _*)
    def st(k: Int, nm: String) =
      struct(lit(k).as("stage"), lit(nm).as("fname"),
        col(s"n${k - 1}").as("n_in"), col(s"n$k").as("n_out"))
    val yieldTable = a
      .select(col("n0"), explode(array(
        stageNames.zipWithIndex.map { case (nm, i) => st(i + 1, nm) }: _*))
        .as("f"))
      .select(col("f.stage").as("stage"), col("f.fname").as("fname"),
        col("f.n_in").as("n_in"),
        (col("f.n_in") - col("f.n_out")).as("n_removed"),
        col("f.n_out").as("n_out"),
        when(col("f.n_in") === 0L, 0L).otherwise(
          expr("(1000000L * (f.n_in - f.n_out)) DIV f.n_in"))
          .as("removed_ppm"),
        when(col("n0") === 0L, 0L).otherwise(
          expr("(1000000L * f.n_out) DIV n0")).as("survive_ppm"))
      .orderBy("stage")

    val kept = flags.filter(conj.reduce(_ && _))
    val packed = packBins(
      kept.select(col("doc_id"), col("n_tokens").as("tokens")))
    CurationOutputs(flags, yieldTable, kept, packed)
  }
}
