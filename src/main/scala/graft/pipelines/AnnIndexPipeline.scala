package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueriesText

/** The IVF ANN index as a MAINTAINED pipeline — the daily-ingest form of
  * q54's one-shot build, and the ANN twin of [[DedupPipeline]]'s
  * incremental band index (X27): at 100 TB the embedding corpus arrives in
  * batches, and re-assigning the whole corpus per day is the same trap as
  * re-closing the whole dedup graph per day.
  *
  *  - The index is ONE table: `(vec_id, embedding, nrm, cell)` — each
  *    vector's coarse cell plus the precomputed L2 norm the re-rank needs.
  *  - `addBatch` assigns ONLY the new batch against the broadcast centroid
  *    set and appends: per-batch cost is O(batch × k) with no shuffle of —
  *    or even a read of — the existing index (`AnnIndexSpec` plan-gates
  *    this). Assignment is per-vector-independent, so the folded index is
  *    bit-identical to a from-scratch build whatever the batch split.
  *  - `search` serves top-k from the index: probe the query's cell, exact
  *    cosine re-rank within it — cost scales with cell size, not corpus
  *    size, and is unchanged by how the index was built.
  *  - Centroids are FIXED at index creation (here q54's deterministic
  *    first-10-vectors stand-in so DuckDB can replay the whole flow; a
  *    deployment fits them offline on a bounded historical sample). A
  *    centroid refresh is a deliberate offline rebuild — exactly how IVF
  *    deployments version their coarse quantizers — never an implicit
  *    per-batch refit, which would silently re-cell the entire corpus.
  *
  * q54 builds its one-shot index through these same stage functions, so
  * the incremental and one-shot paths cannot drift; `q117_incremental_ann`
  * declares the 3-batch fold and oracles it against the from-scratch SQL.
  */
object AnnIndexPipeline {

  /** The persisted index table `(vec_id, embedding, nrm, cell)`. The
    * `Materialize.cut` in [[addBatch]] stands in for the durable
    * parquet write of a production run (partitioned by `cell`, so a probe
    * reads one directory).
    */
  final case class AnnIndex(assigned: DataFrame)

  /** q54's deterministic coarse-quantizer stand-in: the first `k` vectors
    * by id. Replayable in DuckDB, which cannot replay a Lloyd fit.
    */
  def centroids(e: DataFrame, k: Int = 10): DataFrame =
    e.filter(col("vec_id") < k)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))

  /** Cell-assign one batch: score every (vector, centroid) pair against
    * the BROADCAST centroid set, keep the argmax cell (dot desc, c_id
    * tiebreak). The only shuffle is the batch-sized argmax window; the
    * index is not touched. Extra batch columns (labels, source tags —
    * index metadata) pass through; the norm is materialized behind the
    * exchange so CollapseProject cannot inline it per candidate pair
    * (`QueriesText.withNorm`'s rule).
    */
  def assign(batch: DataFrame, cents: DataFrame): DataFrame = {
    val withN = batch
      .withColumn("nrm", QueriesText.norm(col("embedding")))
      .repartition(col("vec_id"))
    val keep = withN.columns.map(col).toSeq
    val wCell = Window.partitionBy("vec_id")
      .orderBy(col("cdot").desc, col("c_id").asc)
    withN.join(broadcast(cents), lit(true))
      .withColumn("cdot", QueriesText.dot(col("embedding"), col("c_emb")))
      .withColumn("crn", row_number().over(wCell))
      .filter(col("crn") === 1)
      .select(keep :+ col("c_id").as("cell"): _*)
  }

  /** Append one batch's assignments to the index. Existing rows pass
    * through untouched — the index is append-only under a fixed centroid
    * set, which is what makes the daily fold cheap AND bit-identical to a
    * from-scratch build.
    */
  def addBatch(index: AnnIndex, batch: DataFrame,
      cents: DataFrame): AnnIndex =
    AnnIndex(index.assigned.union(assign(batch, cents))
      .transform(graft.ops.Materialize.cut))

  /** Top-k cosine search from the index: queries probe their own cell
    * (broadcast — the query set is small by definition), exact re-rank
    * inside it. Output `(q_id, rn, vec_id, cos_sim)`, q54's shape.
    */
  def search(index: AnnIndex, isQuery: Column, k: Int): DataFrame = {
    val q = index.assigned.filter(isQuery)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("cell"))
    val wTop = Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    index.assigned.join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos",
        QueriesText.dot(col("embedding"), col("q_emb")) /
          (col("nrm") * col("q_nrm")))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn"), col("vec_id"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy("q_id", "rn")
  }

  /** The declared standalone simulation (q117): the corpus arrives as `n`
    * batches split by `vec_id mod n`, folded into an index whose centroid
    * set was fixed up front. Mirrors `DedupPipeline.foldBatches`.
    */
  def foldBatches(e: DataFrame, n: Int): AnnIndex = {
    val cents = centroids(e)
    (0 until n).foldLeft(AnnIndex(assign(e.limit(0), cents))) { (ix, i) =>
      addBatch(ix, e.filter(pmod(col("vec_id"), lit(n)) === i), cents)
    }
  }
}
