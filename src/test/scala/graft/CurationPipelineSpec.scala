package graft

import org.apache.spark.sql.functions._

import graft.pipelines.{CurationPipeline, DedupPipeline}

/** The end-to-end curation chain must agree with the declared standalone
  * queries stage by stage (flags are corpus-global verdicts, so parity is
  * exact), the funnel must telescope, and — the reason the pipeline
  * exists — nothing downstream of the first materialization may touch the
  * corpus parquet again.
  */
class CurationPipelineSpec extends SparkSpec {

  private lazy val out = CurationPipeline.run(Tables.documents(spark, sf))
  private def corp = Tables.documents(spark, sf)
    .filter(col("doc_id") % 100 =!= 0)

  test("stage 1 parity: flags.k_quality equals q120's per-doc keep " +
      "verdict on the corpus domain") {
    val expected = Queries.byName("q120_quality_classifier")
      .build(spark, sf)
      .filter(col("doc_id") % 100 =!= 0)
      .select(col("doc_id"), col("keep"))
    val got = out.flags.select(col("doc_id"), col("k_quality").as("keep"))
    assert(got.exceptAll(expected).count() == 0 &&
      expected.exceptAll(got).count() == 0)
  }

  test("stage 2 parity: flags.k_dedup doc set equals DedupPipeline's " +
      "representative set (itself spec-pinned equal to q93)") {
    val expected = DedupPipeline.representatives(corp,
        DedupPipeline.labels(corp))
      .select(col("doc_id"))
    val got = out.flags.filter(col("k_dedup")).select("doc_id")
    assert(got.exceptAll(expected).count() == 0 &&
      expected.exceptAll(got).count() == 0)
  }

  test("stage 3 parity: per-lang survivors of the decontam flag alone " +
      "equal q87's kept_docs") {
    val expected = Queries.byName("q87_decontaminate").build(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val got = out.flags.filter(col("k_decontam"))
      .groupBy("lang").agg(count(lit(1)).as("kept_docs"))
      .orderBy("lang")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == expected, s"got $got expected $expected")
  }

  test("stage 4 parity: per-source totals/keeps of the mix flag alone " +
      "equal q90's rule on the corpus domain") {
    val expected = corp
      .withColumn("kept", CurationPipeline.mixKept)
      .groupBy("source")
      .agg(count(lit(1)).as("t"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("k"))
      .orderBy("source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val got = out.flags
      .groupBy("source")
      .agg(count(lit(1)).as("t"),
        sum(when(col("k_mix"), 1L).otherwise(0L)).as("k"))
      .orderBy("source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == expected.toSeq)
  }

  test("funnel telescopes: n_out(k) = n_in(k+1), n_removed = in - out, " +
      "n_in(1) = corpus size, final n_out = kept count") {
    val rows = out.yieldTable.collect()
    assert(rows.length == 4)
    assert(rows.head.getLong(2) == corp.count(), "n_in(1) != corpus size")
    rows.foreach { r =>
      assert(r.getLong(3) == r.getLong(2) - r.getLong(4),
        s"stage ${r.getInt(0)}: removed != in - out")
    }
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(4) == b.getLong(2),
        s"funnel break between stages ${a.getInt(0)} and ${b.getInt(0)}")
    }
    assert(rows.last.getLong(4) == out.kept.count(),
      "final n_out != kept count")
  }

  test("packing conserves the kept set: bins partition survivors, " +
      "token sums match, and the packer is q86's (same implementation)") {
    val bins = out.packed.collect()
    assert(bins.map(_.getLong(1)).sum == out.kept.count())
    val keptTokens = out.kept.agg(sum("n_tokens")).collect()(0).getLong(0)
    assert(bins.map(_.getLong(2)).sum == keptTokens)
    // every bin's token sum ≥ the 2000 budget only via its LAST doc
    // straddling the boundary is q86's contract; here just pin bins are
    // doc_id-contiguous: first_doc/last_doc ranges don't interleave
    val ranges = bins.sortBy(_.getLong(0)).map(r =>
      (r.getLong(3), r.getLong(4)))
    ranges.sliding(2).foreach { case Array((_, aLast), (bFirst, _)) =>
      assert(aLast < bFirst, "bin doc ranges interleave")
    }
  }

  test("plan gate: downstream of the two materializations, NO consumer " +
      "re-scans the corpus parquet — yield, kept, and packed plans are " +
      "checkpoint-fed") {
    Seq("yield" -> out.yieldTable, "kept" -> out.kept,
      "packed" -> out.packed, "flags" -> out.flags).foreach {
      case (nm, df) =>
        val p = df.queryExecution.executedPlan.toString
        assert(!p.contains("FileScan") && !p.contains("Scan parquet"),
          s"$nm re-scans the corpus:\n${p.take(800)}")
    }
  }
}
