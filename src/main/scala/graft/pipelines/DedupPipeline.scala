package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueriesText
import graft.ops.{ConnectedComponents, Materialize}

/** The near-dup dedup closure as a PIPELINE of stage functions: run the
  * expensive part ([[labels]]: minhash signatures → LSH band join →
  * connected components) ONCE, and serve every downstream consumer —
  * cluster-size histogram ([[sizeHistogram]], q92's output) and cluster
  * representatives ([[representatives]], q93's output) — from that one
  * labels table.
  *
  * Why this exists (VERDICT r04 #3 / SCALE.md "shared closure"): the
  * DECLARED queries q92/q93 are standalone by driver contract (Verify runs
  * each independently), so each rebuilds the closure — ~80% of q93's bench
  * cost is re-running q92's pipeline. A real corpus run never does that:
  * the labels table is the canonical intermediate, written once per corpus
  * snapshot and joined by every consumer. At 100 TB the closure touches
  * every document (shingle + signature scan) while the labels table is
  * paired-docs-sized — materializing it is the difference between one
  * corpus scan and one per consumer.
  *
  * The stage functions below are the SINGLE implementation: q92 and q93
  * call them too (with a fresh closure each, per the standalone contract),
  * so the persisted-labels path and the recompute path cannot drift —
  * `DedupPipelineSpec` additionally asserts their outputs are equal.
  */
object DedupPipeline {

  /** Stage 1 — the expensive part, run once per corpus snapshot:
    * 3-shingle minhash signatures → banded LSH equi-join → transitive
    * closure. Output `(v, component)`, paired-docs-sized (docs that
    * collide in no band are absent — downstream left-joins keep them).
    */
  def labels(docs: DataFrame): DataFrame =
    ConnectedComponents.labelMinProp(QueriesText.bandPairs(docs))

  /** Stage 2a — cluster-size histogram from a labels table (q92's shape). */
  def sizeHistogram(labels: DataFrame): DataFrame =
    labels.groupBy("component").agg(count(lit(1)).as("csize"))
      .groupBy("csize").agg(count(lit(1)).as("n_clusters"))
      .orderBy("csize")

  /** Stage 2b — one survivor per cluster from a labels table (q93's
    * shape): longest text wins, doc_id tiebreak; un-paired docs survive
    * as their own cluster via the left join. rn=1 over the
    * cluster-partitioned window plans as WindowGroupLimit → map-side
    * prune (PlanSpec gate on q93).
    */
  def representatives(docs: DataFrame, labels: DataFrame): DataFrame = {
    val labeled = docs
      .join(labels, docs("doc_id") === labels("v"), "left")
      .withColumn("cluster", coalesce(col("component"), col("doc_id")))
    val w = Window.partitionBy("cluster")
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    labeled.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster"), col("doc_id"), col("n_chars"))
      .orderBy("cluster")
  }

  // ---- incremental index maintenance ---------------------------------------

  /** The persisted dedup index: `bands` is the `(doc_id, band_key)` LSH
    * index of every document ever processed; `labels` is the current
    * `(v, component)` closure over them (paired docs only, like
    * [[labels]]). Both stand in for durable tables — the
    * `Materialize.cut` points in [[addBatchBands]] are where a
    * production run writes parquet.
    */
  final case class DedupIndex(bands: DataFrame, labels: DataFrame)

  def emptyIndex(s: org.apache.spark.sql.SparkSession): DedupIndex = {
    import org.apache.spark.sql.types._
    val bands = s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("band_key", StringType))))
    val labels = s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("v", LongType),
        StructField("component", LongType))))
    DedupIndex(bands, labels)
  }

  /** Fold one new batch into the index WITHOUT recomputing the corpus
    * closure — the daily-ingest form of dedup at 100 TB (the full corpus
    * is shingled exactly once, on the day each document arrives):
    *
    *  1. Shingle + sign ONLY the batch: `nb` is its `(doc_id, band_key)`
    *     rows (`QueriesText.bandKeys`), the exact rows the index persists
    *     (q112's standalone simulation signs the whole corpus in one pass
    *     and slices it per batch — same per-doc work, fewer jobs).
    *     Candidate edges come from the batch's band self-join plus one
    *     equi-join of batch bands against the persisted band index.
    *     Per-batch cost is O(batch + collisions), never O(corpus).
    *  2. The closure runs on the CONTRACTED graph: each new-edge endpoint
    *     maps to its current component id (itself if unlabeled), so the
    *     transitive closure sees one node per touched component — its
    *     input is |new edges|, independent of how large the touched
    *     clusters have grown. A new doc bridging two old components
    *     merges their nodes here exactly as a from-scratch run would,
    *     and because a component id IS its minimum member, the contracted
    *     min-label equals the true min doc id of the merged cluster.
    *  3. Touched components' members relabel through ONE join against the
    *     contraction result; untouched labels pass through by identity —
    *     at steady state that is ~all of them, so per-batch work tracks
    *     the BATCH size, not the corpus or cluster size.
    *
    * Labels are min-doc_id per component in both the incremental and the
    * from-scratch form, so the results are bit-identical whatever the
    * batch split — `DedupPipelineSpec` proves it over a 3-batch sequence
    * and q112's oracle replays the from-scratch closure in DuckDB.
    */
  def addBatchBands(index: DedupIndex, nb: DataFrame): DedupIndex = {
    val a = nb.select(col("doc_id").as("a_id"), col("band_key"))
    val b = nb.select(col("doc_id").as("b_id"), col("band_key"))
    val newNew = a.join(b, Seq("band_key"))
      .filter(col("a_id") < col("b_id"))
    val newOld = nb.join(index.bands.withColumnRenamed("doc_id", "old_id"),
        Seq("band_key"))
      .filter(col("doc_id") =!= col("old_id"))
      .select(least(col("doc_id"), col("old_id")).as("a_id"),
        greatest(col("doc_id"), col("old_id")).as("b_id"))
    val newEdges = newNew.select("a_id", "b_id")
      .union(newOld).distinct()
    // contract: endpoint -> its current component (itself if unlabeled)
    val contracted = newEdges
      .join(index.labels.select(col("v").as("a_id"),
        col("component").as("ca")), Seq("a_id"), "left")
      .join(index.labels.select(col("v").as("b_id"),
        col("component").as("cb")), Seq("b_id"), "left")
      .select(coalesce(col("ca"), col("a_id")).as("src"),
        coalesce(col("cb"), col("b_id")).as("dst"))
    // no extra checkpoint: labelMinProp's output is a narrow select over
    // its own final-round checkpoint, already materialized
    val cc = ConnectedComponents.labelMinProp(contracted)
    // ONE full-outer join on (old component id = cc node) covers all three
    // label cases — matched rows relabel touched components' members to
    // their new root; labels-only rows are untouched components passing
    // through by identity; cc-only rows are nodes that are NOT old
    // component ids (batch docs AND previously-unpaired old docs first
    // touched by this batch) labeling themselves directly. Old comp ids
    // ride the member join — their (root, root) self-label is a labels row.
    val ccc = cc.select(col("v").as("cnode"), col("component").as("root"))
    val merged = index.labels
      .join(ccc, index.labels("component") === ccc("cnode"), "full_outer")
    // bands: APPEND-ONLY — union the already-materialized index with the
    // (caller-checkpointed) batch piece, never re-materialize the whole
    // accumulated index per fold (that write is O(corpus) per batch — the
    // exact trap this pipeline exists to avoid; a production run appends
    // one parquet partition). The union tree deepens by one leaf per
    // batch; a long-running daily job compacts it periodically, which is
    // q116's maintenance op applied to the index table itself. labels ARE
    // rewritten whole: the table is paired-docs-sized (≪ corpus) and the
    // full-outer relabel produces it in one pass.
    DedupIndex(
      bands = index.bands.union(nb),
      labels = merged
        .select(coalesce(col("v"), col("cnode")).as("v"),
          coalesce(col("root"), col("component")).as("component"))
        .transform(Materialize.cut))
  }

  /** The declared standalone simulation shape (q112/q115): the corpus
    * arrives as `n` batches split by `doc_id mod n`; the whole corpus is
    * signed in ONE pass (identical per-doc work to per-batch signing —
    * each doc is signed exactly once either way) and each fold consumes
    * its band slice.
    */
  def foldBatches(docs: DataFrame, n: Int): DedupIndex = {
    val allBands = QueriesText.bandKeys(docs).transform(Materialize.cut)
    (0 until n).foldLeft(emptyIndex(docs.sparkSession)) { (ix, i) =>
      addBatchBands(ix, allBands.filter(pmod(col("doc_id"), lit(n)) === i))
    }
  }

  /** The fold's outputs persisted ONCE per corpus dir via
    * [[graft.ops.LayoutCache]] (the q104/q114/q116 first-touch layout
    * contract — a maintained dedup index IS a physical layout of the
    * corpus): the 3-batch fold runs on first touch, its band index and
    * labels land in the session warehouse as parquet, and every consumer
    * (q112's labels dump, q115's batch verdict, q128's leakage audit)
    * reads the tables instead of re-folding. This is the production shape
    * the simulation queries document — per-day cost is one [[addBatchBands]];
    * CONSUMERS pay one batch-sized (or probe-sized) join, never a corpus
    * re-shingle. Cached-vs-scratch bit-identity is pinned by
    * DedupPipelineSpec.
    */
  def cachedFold(s: org.apache.spark.sql.SparkSession, d: String,
      n: Int = 3): DedupIndex = {
    val h = graft.ops.LayoutCache.sourceKey(d)
    val p = graft.ops.LayoutCache.installOnce(
        s, s"dedup112_index_n${n}_$h") { tmp =>
      val ix = foldBatches(graft.Tables.documents(s, d), n)
      ix.bands.write.parquet(tmp + "/bands")
      ix.labels.write.parquet(tmp + "/labels")
      // LayoutCache's completeness marker is a TOP-LEVEL _SUCCESS; the
      // two table writes each put theirs one directory down
      java.nio.file.Files.createFile(
        java.nio.file.Paths.get(tmp, "_SUCCESS"))
      ()
    }
    DedupIndex(
      bands = graft.Tables.parquet(s, p + "/bands"),
      labels = graft.Tables.parquet(s, p + "/labels"))
  }

  /** The question the index answers each day: which of THIS batch's docs
    * are novel, and which duplicate something already in the corpus (or an
    * earlier doc of the same batch)? With min-doc_id labels the canonical
    * survivor of every cluster is its smallest id, so a batch doc is novel
    * iff it IS its cluster's label — or was never paired at all. One
    * batch-sized left join against the labels table; no closure re-run.
    */
  def batchVerdict(labels: DataFrame, batch: DataFrame): DataFrame =
    batch.select("doc_id")
      .join(labels.withColumnRenamed("v", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster"),
        (col("component").isNull ||
          col("component") === col("doc_id")).as("is_novel"))
      .orderBy("doc_id")
}
