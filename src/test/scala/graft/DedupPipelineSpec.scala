package graft

import graft.pipelines.DedupPipeline

/** The shared-closure pipeline (one labels materialization, many
  * consumers) must equal the standalone recompute paths q92/q93 declare —
  * the equality VERDICT r04 #3 asked to be asserted, guarding the
  * SCALE.md claim that persisting labels is a pure cost optimization.
  */
class DedupPipelineSpec extends SparkSpec {

  /** One batch folded in the production shape: sign only the batch, cut
    * its band keys (the rows the index appends), fold them.
    */
  private def addBatch(ix: DedupPipeline.DedupIndex,
      batch: org.apache.spark.sql.DataFrame): DedupPipeline.DedupIndex =
    DedupPipeline.addBatchBands(ix,
      QueriesText.bandKeys(batch).localCheckpoint(true))

  test("persisted-labels pipeline equals the q92/q93 recompute paths") {
    val docs = Tables.documents(spark, sf)
    val labels = DedupPipeline.labels(docs)

    val q92 = Queries.byName("q92_dedup_components").build(spark, sf)
    val q93 = Queries.byName("q93_cluster_representatives").build(spark, sf)

    assert(DedupPipeline.sizeHistogram(labels).collect().toSeq ==
      q92.collect().toSeq)
    assert(DedupPipeline.representatives(docs, labels).collect().toSeq ==
      q93.collect().toSeq)
  }

  test("incremental 3-batch index maintenance equals the from-scratch closure") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
    val scratchRows = DedupPipeline.labels(docs)
      .orderBy("v", "component").collect().toSeq
    // per-batch signing path (the production shape)
    val batches = (0 until 3).map(i =>
      docs.filter(pmod(col("doc_id"), lit(3)) === i))
    val idx = batches.foldLeft(
      DedupPipeline.emptyIndex(spark))(addBatch)
    assert(idx.labels.orderBy("v", "component").collect().toSeq ==
      scratchRows)
    // sign-once-slice-per-batch path (the declared q112/q115 shape)
    val idx2 = DedupPipeline.foldBatches(docs, 3)
    assert(idx2.labels.orderBy("v", "component").collect().toSeq ==
      scratchRows)
    // the band index covers the whole corpus after the last batch
    assert(idx.bands.count() ==
      QueriesText.bandKeys(docs).count())
  }

  test("addBatch merges components bridged by a new doc; untouched " +
    "components pass through by identity") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val batch = Seq((100L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    // the batch doc's two real band keys, wired into a handcrafted index
    // so the new doc bridges two previously-separate components
    val ks = QueriesText.bandKeys(batch)
      .orderBy("band_key").collect().map(_.getString(1))
    assert(ks.length == 2 && ks(0) != ks(1))
    val index = DedupPipeline.DedupIndex(
      bands = Seq((1L, ks(0)), (10L, ks(1)),
        (50L, "zz-untouched"), (51L, "zz-untouched")).toDF("doc_id", "band_key"),
      labels = Seq((1L, 1L), (2L, 1L), (10L, 10L), (11L, 10L),
        (50L, 50L), (51L, 50L)).toDF("v", "component"))
    val out = addBatch(index, batch)
    val got = out.labels.orderBy("v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq(1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 1L,
      50L -> 50L, 51L -> 50L, 100L -> 1L))
    // the index keeps growing append-only: old bands + the batch's bands
    assert(out.bands.count() == 6)
    // verdict: the bridge doc duplicates cluster 1 (an older doc owns the
    // min label); a collision-free follow-up batch doc is novel
    val v1 = DedupPipeline.batchVerdict(out.labels, batch).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(v1 == Seq((100L, 1L, false)))
    val batch2 = Seq((200L, "zz yy xx ww vv")).toDF("doc_id", "text")
    val out2 = addBatch(out, batch2)
    val v2 = DedupPipeline.batchVerdict(out2.labels, batch2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(v2 == Seq((200L, 200L, true)))
  }

  test("streaming twin: micro-batches folded through foreachBatch equal " +
    "the one-shot corpus closure (daily-ingest dedup as a stream)") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("dedup_stream")
    // one file per micro-batch (coalesce(1)); fold order doesn't matter —
    // addBatch is batch-split-invariant, which is exactly what lets the
    // same code serve a Structured Streaming sink
    (0 until 3).foreach { i =>
      docs.filter(pmod(col("doc_id"), lit(3)) === i).coalesce(1)
        .write.mode("overwrite").parquet(dir.resolve(s"b$i").toString)
    }
    var index = DedupPipeline.emptyIndex(spark)
    val q = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString + "/*")
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("dedup_ckpt").toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        index = addBatch(index, batch)
      }.start()
    assert(q.awaitTermination(180000), "stream did not finish")
    val scratch = DedupPipeline.labels(docs)
      .orderBy("v", "component").collect().toSeq
    assert(index.labels.orderBy("v", "component").collect().toSeq == scratch)
    // and the maintained index serves the daily verdict with no re-closure
    val b0 = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val verdict = DedupPipeline.batchVerdict(index.labels, b0)
    assert(verdict.count() == b0.count())
  }

  test("cachedFold: the persisted LayoutCache index is bit-identical to " +
    "the scratch fold, and consumers read parquet, not the closure") {
    val scratch = DedupPipeline.foldBatches(Tables.documents(spark, sf), 3)
    val cached = DedupPipeline.cachedFold(spark, sf)
    assert(cached.labels.orderBy("v", "component").collect().toSeq ==
      scratch.labels.orderBy("v", "component").collect().toSeq)
    assert(cached.bands.orderBy("doc_id", "band_key").collect().toSeq ==
      scratch.bands.orderBy("doc_id", "band_key").collect().toSeq)
    // steady-state consumers scan the warehouse artifact — no minhash /
    // band-join stages anywhere in their plans
    assert(cached.labels.inputFiles.forall(_.contains("dedup112_index")),
      cached.labels.inputFiles.take(3).mkString(", "))
    val plan = cached.labels.queryExecution.optimizedPlan.toString
    assert(!plan.contains("band_key"), plan.take(500))
  }

  test("labels materialize once: downstream plans read the checkpoint, " +
    "not the closure pipeline") {
    val docs = Tables.documents(spark, sf)
    val labels = DedupPipeline.labels(docs)
    // a localCheckpoint cuts the lineage: the consumers' logical plans
    // must contain no trace of the upstream band join / minhash stages
    Seq(DedupPipeline.sizeHistogram(labels),
        DedupPipeline.representatives(docs, labels)).foreach { df =>
      val plan = df.queryExecution.optimizedPlan.toString
      assert(!plan.contains("band_key"),
        s"consumer plan re-runs the closure pipeline:\n$plan")
    }
  }
}
