package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Materialize, Scalars}

/** Similarity-search / retrieval family (SURVEY.md §2.11 X3/X26/X29/
  X30/X31/X35/X47/X69/X74/X79): brute-force cosine, LSH buckets, IVF,
  PQ/ADC, incremental index folds, semantic decontamination/dedup,
  BM25, RRF fusion, hard negatives, mutual-NN, centroid separation.
  Shared cosine/norm machinery lives in [[QueriesText]].
  *
  * Split out of QueriesText.scala in round 11 (the file had reached
  * 3,300 lines across 9 families — VERDICT r10 #7); queries are
  * verbatim, the registry order groups by family now.
  */
object QueriesTextAnn {
  import Tables._
  import QueriesText._

  val all: Seq[Q] = Seq(

    // X3 brute-force cosine top-k: broadcast the query set, stream the
    // corpus once; per-query top-5 via row_number (SURVEY.md W1 pattern).
    Q("q41_cosine_topk",
      (s, d) => {
        val e = withNorm(embeddings(s, d))
        val q = e.filter(col("vec_id") < 3)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
            col("nrm").as("q_nrm"))
        val w = Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("vec_id").asc)
        e.join(broadcast(q), col("vec_id") =!= col("q_id"))
          .withColumn("cos",
            dot(col("embedding"), col("q_emb")) / (col("nrm") * col("q_nrm")))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select(col("q_id"), col("rn"), col("vec_id"),
            round(col("cos"), 6).as("cos_sim"))
          .orderBy("q_id", "rn")
      },
      Some(s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb
              |           FROM embeddings WHERE vec_id < 3),
              |pairs AS (
              |  SELECT q_id, vec_id,
              |    ${cosSql("embedding", "q_emb")} AS cos
              |  FROM embeddings, q WHERE vec_id <> q_id),
              |scored AS (
              |  SELECT q_id, vec_id, cos,
              |    row_number() OVER (PARTITION BY q_id
              |      ORDER BY cos DESC, vec_id ASC) AS rn
              |  FROM pairs)
              |SELECT q_id, CAST(rn AS INT) AS rn, vec_id,
              |       round(cos, 6) AS cos_sim
              |FROM scored WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin)),

    // ANN via sign-LSH buckets: bucket = sign bits of the first 8 dims;
    // candidates share a bucket (equi-join), then exact cosine re-rank.
    Q("q51_ann_lsh",
      (s, d) => {
        val bucket = (0 until 8).map { j =>
          when(element_at(col("embedding"), j + 1) > 0f, lit(1 << j))
            .otherwise(0)
        }.reduce(_ + _)
        val e = withNorm(embeddings(s, d))
          .select(col("vec_id"), col("embedding"), col("nrm"),
            bucket.as("bucket"))
        val q = e.filter(col("vec_id") < 3)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
            col("nrm").as("q_nrm"), col("bucket"))
        val w = Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("vec_id").asc)
        e.join(broadcast(q), Seq("bucket"))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("cos",
            dot(col("embedding"), col("q_emb")) / (col("nrm") * col("q_nrm")))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("q_id"), col("rn"), col("vec_id"),
            round(col("cos"), 6).as("cos_sim"))
          .orderBy("q_id", "rn")
      },
      Some {
        val bSql = (0 until 8).map { j =>
          s"(CASE WHEN embedding[${j + 1}] > 0 THEN ${1 << j} ELSE 0 END)"
        }.mkString(" + ")
        s"""WITH e AS (SELECT vec_id, embedding, ($bSql) AS bucket
           |           FROM embeddings),
           |q AS (SELECT vec_id AS q_id, embedding AS q_emb, bucket
           |      FROM e WHERE vec_id < 3),
           |pairs AS (
           |  SELECT q.q_id, e.vec_id,
           |    ${cosSql("e.embedding", "q.q_emb")} AS cos
           |  FROM e JOIN q ON e.bucket = q.bucket
           |  WHERE e.vec_id <> q.q_id),
           |scored AS (
           |  SELECT q_id, vec_id, cos, row_number() OVER (
           |    PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rn
           |  FROM pairs)
           |SELECT q_id, CAST(rn AS INT) AS rn, vec_id,
           |       round(cos, 6) AS cos_sim
           |FROM scored WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin
      }),

    // ANN via IVF: coarse quantization against a fixed centroid set (the
    // first 10 vectors — deterministic and oracle-replayable in DuckDB,
    // which cannot replay a Lloyd fit), then exact re-rank within the
    // query's cell. A deployment swaps in centroids fit offline on a
    // bounded sample; the stand-in keeps the whole flow replayable. The
    // cell assignment is one pass over the corpus against
    // broadcast centroids; search cost scales with cell size, not corpus
    // size. Built through pipelines/AnnIndexPipeline's stage functions —
    // the same code the incremental fold (q117) uses, so the one-shot and
    // maintained forms cannot drift.
    Q("q54_ann_ivf",
      (s, d) => {
        import graft.pipelines.AnnIndexPipeline
        val e = embeddings(s, d)
        val ix = AnnIndexPipeline.AnnIndex(
          AnnIndexPipeline.assign(e, AnnIndexPipeline.centroids(e)))
        AnnIndexPipeline.search(ix, col("vec_id") < 3, 3)
      },
      Some(ivfOracleSql)),

    // X29 incremental ANN-index maintenance — the daily-ingest form of
    // q54, and the ANN twin of q112's incremental dedup index: the corpus
    // arrives as 3 batches (vec_id mod 3), each assigned against the FIXED
    // broadcast centroid set and appended to the persisted index; the
    // existing index is never read, so per-batch cost is O(batch × k).
    // Search serves from the folded index. Assignment is per-vector
    // independent, so the fold is bit-identical to the from-scratch build —
    // the oracle IS q54's from-scratch SQL, and AnnIndexSpec gates the
    // append-only/no-index-scan plan shape.
    Q("q117_incremental_ann",
      (s, d) => {
        import graft.pipelines.AnnIndexPipeline
        AnnIndexPipeline.search(
          AnnIndexPipeline.foldBatches(embeddings(s, d), 3),
          col("vec_id") < 3, 3)
      },
      Some(ivfOracleSql)),

    // X30 semantic decontamination — the embedding-space complement of
    // q87's n-gram form: corpus documents whose embedding lands within
    // cosine τ of ANY held-out eval vector are contamination. The eval
    // set is a benchmark suite: FIXED SIZE by nature (label 0 within the
    // original id range stands in for it) — it does NOT grow with the
    // corpus, which is what keeps the comparison O(corpus), and small
    // enough to broadcast. Candidates are CELL-BLOCKED through the same
    // fixed coarse quantizer the ANN index uses (X29): the corpus×eval
    // comparison is an equi-join on cell, never all-pairs, and per-doc
    // work is the (bounded) eval occupancy of its own cell. Cell blocking
    // is a recall dial, not exactness: a cross-cell near-pair is missed
    // by design (multi-probe / the q51 LSH union is the knob) — the
    // oracle replays the same blocked rule, so the DECLARED decision is
    // cross-engine exact. Output: the contaminated docs with hit count
    // and peak similarity, vec_id-unique total order.
    Q("q118_semantic_decontam",
      (s, d) => {
        import graft.pipelines.AnnIndexPipeline
        val e = embeddings(s, d)
        val a = AnnIndexPipeline.assign(e, AnnIndexPipeline.centroids(e))
        val eval = a.filter(col("label") === 0 && col("vec_id") < 500)
          .select(col("cell"), col("embedding").as("t_emb"),
            col("nrm").as("t_nrm"))
        a.filter(col("label") =!= 0)
          .join(broadcast(eval), Seq("cell"))
          .withColumn("cos",
            dot(col("embedding"), col("t_emb")) / (col("nrm") * col("t_nrm")))
          .filter(col("cos") >= 0.25)
          .groupBy("vec_id")
          .agg(count(lit(1)).as("n_hits"),
            round(max(col("cos")), 6).as("max_cos"))
          .orderBy("vec_id")
      },
      Some(s"""WITH cents AS (SELECT vec_id AS c_id, embedding AS c_emb
              |               FROM embeddings WHERE vec_id < 10),
              |scoredcells AS (
              |  SELECT e.vec_id, e.embedding, e.label, c.c_id,
              |    row_number() OVER (PARTITION BY e.vec_id
              |      ORDER BY ${dotSql("e.embedding", "c.c_emb")} DESC,
              |               c.c_id ASC) AS crn
              |  FROM embeddings e CROSS JOIN cents c),
              |assigned AS (
              |  SELECT vec_id, embedding, label, c_id AS cell
              |  FROM scoredcells WHERE crn = 1),
              |ev AS (SELECT cell, embedding AS t_emb FROM assigned
              |       WHERE label = 0 AND vec_id < 500),
              |hits AS (
              |  SELECT a.vec_id,
              |    ${cosSql("a.embedding", "ev.t_emb")} AS cos
              |  FROM assigned a JOIN ev ON a.cell = ev.cell
              |  WHERE a.label <> 0)
              |SELECT vec_id, count(*) AS n_hits,
              |       round(max(cos), 6) AS max_cos
              |FROM hits WHERE cos >= 0.25
              |GROUP BY vec_id ORDER BY vec_id""".stripMargin)),

    // X31 SemDeDup — corpus-level semantic dedup, the embedding-space
    // member of the dedup family (q40 exact, q53/q75 MinHash, q49 SimHash,
    // q48 n-gram, q97 span): embeddings mutually within cosine τ form one
    // semantic cluster; its min-vec_id member is the kept representative.
    // The cluster-then-dedup recipe: candidates are blocked on (coarse IVF
    // cell × 4-bit sign sub-bucket), so pairwise work is bounded by block
    // occupancy — the cell count is the scale knob (grow k with the corpus
    // and occupancy stays flat; measured max 35 at sf0.1), never all-pairs
    // (q50's bounded-slice pairwise generalized to the whole corpus). The
    // sign sub-bucket keeps mixed cells from degrading to within-cell n²;
    // identical vectors always co-block, so τ=1 duplicates are never
    // missed whatever the blocking resolution.
    // Blocking is a recall dial exactly as in q118 (multi-probe is the
    // knob); the oracle replays the same blocked rule, so the declared
    // decision is cross-engine exact. Edges feed the same closure the
    // MinHash tier uses (O(log n) rounds, edge list materialized once);
    // the per-vector verdict is one corpus-sized left join against the
    // paired-docs-sized label table.
    Q("q119_semantic_dedup",
      (s, d) => {
        // Exact-dedup FIRST (the real pipeline order): semantic work runs
        // over DISTINCT contents only, then the verdict fans back out
        // through the copy→representative mapping. Identical vectors are
        // always mutually τ-duplicates in the same block, so a copy group
        // expands its representative's component verbatim — the output is
        // bit-identical to running the closure on the full corpus, but
        // pairwise+closure cost is INVARIANT to copy multiplicity (the
        // sf1 scaled corpus is 10 exact copies: without this, every
        // within-block pair count inflates ×copies²; measured 8.1 s → the
        // uniq form tracks the distinct-content corpus instead). The
        // mapping shuffle keys on xxhash64(embedding) FIRST, then the
        // embedding itself: the 8 B hash is a pure function of the 256 B
        // array it prefixes, so the grouping is bit-identical (no
        // collision risk — hash-equal-but-distinct rows still split on
        // the second key), while the window sort compares the array only
        // on hash-equal rows instead of on every comparison.
        val e = embeddings(s, d)
        val wCopy = Window.partitionBy(
          xxhash64(col("embedding")), col("embedding"))
        val mapping = e.select(col("vec_id"), col("embedding"))
          .withColumn("rep_id", min(col("vec_id")).over(wCopy))
        val reps = mapping.filter(col("vec_id") === col("rep_id"))
          .select(col("vec_id"), col("embedding"))
        val labels = graft.ops.ConnectedComponents
          .labelMinProp(semanticEdges(reps))
          .withColumnRenamed("v", "rep_id")
        mapping.join(labels, Seq("rep_id"), "left")
          .select(col("vec_id"),
            coalesce(col("component"), col("rep_id")).as("cluster"),
            (coalesce(col("component"), col("rep_id")) === col("vec_id"))
              .as("is_kept"))
          .orderBy("vec_id")
      },
      Some {
        val sign = (0 until 4).map { j =>
          s"(CASE WHEN a.embedding[${j + 1}] > 0 THEN ${1 << j} ELSE 0 END)"
        }.mkString(" + ")
        s"""WITH RECURSIVE
           |cents AS (SELECT vec_id AS c_id, embedding AS c_emb
           |          FROM embeddings WHERE vec_id < 10),
           |scoredcells AS (
           |  SELECT a.vec_id, a.embedding, c.c_id, ($sign) AS sub,
           |    row_number() OVER (PARTITION BY a.vec_id
           |      ORDER BY ${dotSql("a.embedding", "c.c_emb")} DESC,
           |               c.c_id ASC) AS crn
           |  FROM embeddings a CROSS JOIN cents c),
           |blocked AS (
           |  SELECT vec_id, embedding, c_id AS cell, sub
           |  FROM scoredcells WHERE crn = 1),
           |pairs AS (
           |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
           |  FROM blocked a JOIN blocked b
           |    ON a.cell = b.cell AND a.sub = b.sub AND a.vec_id < b.vec_id
           |  WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.30),
           |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
           |          UNION SELECT b_id, a_id FROM pairs),
           |verts AS (SELECT DISTINCT src AS v FROM edges),
           |reach(v, r) AS (
           |  SELECT v, v FROM verts
           |  UNION
           |  SELECT e.dst, reach.r FROM reach JOIN edges e
           |    ON e.src = reach.v),
           |comp AS (SELECT v, min(r) AS component FROM reach GROUP BY v)
           |SELECT emb.vec_id,
           |       coalesce(c.component, emb.vec_id) AS cluster,
           |       (coalesce(c.component, emb.vec_id) = emb.vec_id)
           |         AS is_kept
           |FROM embeddings emb LEFT JOIN comp c ON c.v = emb.vec_id
           |ORDER BY emb.vec_id""".stripMargin
      }),

    // X26 ANN via product quantization — the memory-bound tier above IVF
    // (ops/ProductQuantizer): 64-dim float vectors (256 B) become 8-byte
    // codes, ADC search is table lookups over the code scan with
    // per-partition top-k pruning, and the exact cosine re-rank runs only
    // on the 20-candidate shortlist. At 10^11 vectors the codes fit in
    // executor memory while raw vectors don't — the billion-scale recipe
    // (Jégou et al. 2011 / FAISS IVF-PQ). No-oracle by design (DuckDB
    // cannot replay the Lloyd fit); PqSpec pins the ADC identity
    // (adc == ||q − decode(code)||² to 1e-9), code partition-stability,
    // and a 0.93 recall gate on the clustered fixture; verify_local
    // bounds recall ≥ 2/3 vs brute force at EVERY sf. Codebook k=64 and
    // shortlist 64: the first draft's k=16/20 passed at sf0.01 (500
    // vectors) but read recall 4/9 on sf0.1's 5 000 distinct
    // near-random vectors — 4-bit subcodes can't separate a
    // concentrated distance distribution; 6 bits + a deeper re-rank
    // shortlist restore ≥ 2/3 at all scales for ~0.6 s at sf0.1 (the
    // recall-vs-cost dial every PQ deployment tunes).
    Q("q110_ann_pq",
      (s, d) => {
        import graft.ops.ProductQuantizer
        val e = embeddings(s, d)
        val model = ProductQuantizer.fit(e, col("vec_id"),
          col("embedding"), dim = 64, m = 8, k = 64, iters = 5,
          seed = 11L)
        val codes = ProductQuantizer.encode(e, col("vec_id"),
          col("embedding"), model)
        val qs = e.filter(col("vec_id") < 3).collect().map { r =>
          (r.getLong(0),
            r.getSeq[Float](1).map(_.toDouble).toArray)
        }.toSeq
        val shortlist = ProductQuantizer.adcTopK(codes, model, qs,
          topK = 64).select("q_id", "vec_id")
        val en = withNorm(e)
        val q = en.filter(col("vec_id") < 3)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
            col("nrm").as("q_nrm"))
        val wTop = Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("vec_id").asc)
        shortlist.join(en, "vec_id").join(broadcast(q), "q_id")
          .withColumn("cos",
            dot(col("embedding"), col("q_emb")) /
              (col("nrm") * col("q_nrm")))
          .withColumn("rn", row_number().over(wTop))
          .filter(col("rn") <= 3)
          .select(col("q_id"), col("rn"), col("vec_id"),
            round(col("cos"), 6).as("cos_sim"))
          .orderBy("q_id", "rn")
      },
      None),

    // X35 BM25 query-relevance scoring — the RANKED-retrieval member of
    // the text tier (q103 scores terms within a doc; BM25 scores docs
    // against a QUERY — the relevance signal curation pipelines use to
    // mine domain-specific training data from a crawl). Semantics are the
    // rational-idf BM25 variant (k1=6/5, b=3/4, the log in Robertson's
    // idf replaced by its rational argument (N−df+½)/(df+½) — monotone in
    // df, so per-term ordering is classic BM25): with L = Σ dl (so
    // dl/avgdl = dl·N/L), the term score is the exact integer ratio
    //   22·tf·L·(2N−2df+1) / ((10·tf·L + 3·L + 9·dl·N)·(2df+1)),
    // both sides < 2^63 at every tested sf. Cross-engine discipline: each
    // term score is floor-quantized to 1e-9 fixed point (floor of IEEE
    // ops both engines execute identically — the Scalars.round2 lesson),
    // so the per-doc SUM is an exact BIGINT — accumulation-order-free
    // where a double sum of raw scores would flip low bits at sf1.
    // Scale shape: the token stream is filtered to the query's terms
    // IMMEDIATELY after tokenization — the corpus-wide shuffle carries
    // only query-term postings (the inverted-index access pattern,
    // relationally), never the vocabulary; dl is map-only arithmetic; N,
    // L, df are one scalar agg + one 3-row agg, both broadcast back. At
    // 100 TB per-query cost is O(postings of the query terms), the same
    // asymptotics as a Lucene/ES query, with no index build required.
    Q("q123_bm25_relevance",
      (s, d) => bm25Scored(s, d)
        .orderBy(col("score_fp").desc, col("doc_id").asc)
        .limit(20),
      Some(s"""WITH $bm25SqlCtes
             |SELECT doc_id, terms_hit, score_fp
             |FROM bm25
             |ORDER BY score_fp DESC, doc_id LIMIT 20""".stripMargin)),

    // X47 hybrid retrieval via Reciprocal Rank Fusion (Cormack et al. 2009)
    // — the fusion step every modern retrieval/data-mining stack runs over
    // its lexical and dense legs: BM25 (q123's exact fixed-point scorer,
    // shared implementation) and embedding cosine (query-by-example,
    // vec_id 0, self excluded) each produce a top-20 ranking; RRF fuses
    // them as Σ 1/(60+rank) over the union. Rank contributions are exact
    // integers (1e9 DIV (60+r)) so fusion involves no IEEE arithmetic —
    // only the two legs' internal orderings (both already cross-engine
    // deterministic: BM25 is all-integer; cosine ordering is q41's proven
    // discipline). Docs absent from a leg contribute 0 (standard RRF).
    // Scale shape: each leg reduces via TakeOrderedAndProject (distributed
    // per-partition top-k + driver merge of K rows — never a global sort);
    // rank assignment and the full-outer fusion run on 2×20 rows. At
    // 100 TB the cost is the two legs' scans — BM25 touches only
    // query-term postings, cosine streams codes/vectors once — and the
    // fusion itself is constant-sized.
    Q("q134_rrf_hybrid",
      (s, d) => {
        val wl = Window.orderBy(col("score_fp").desc, col("doc_id").asc)
        val lex = bm25Scored(s, d)
          .orderBy(col("score_fp").desc, col("doc_id").asc).limit(20)
          .withColumn("r_lex", row_number().over(wl))
          .select(col("doc_id"), col("r_lex"))
        val e = withNorm(embeddings(s, d))
        val qv = e.filter(col("vec_id") === 0)
          .select(col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
        val wd = Window.orderBy(col("cos").desc, col("doc_id").asc)
        val dense = e.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(qv))
          .withColumn("cos",
            dot(col("embedding"), col("q_emb")) /
              (col("nrm") * col("q_nrm")))
          .select(col("vec_id").as("doc_id"), col("cos"))
          .orderBy(col("cos").desc, col("doc_id").asc).limit(20)
          .withColumn("r_dense", row_number().over(wd))
          .select(col("doc_id"), col("r_dense"))
        lex.join(dense, Seq("doc_id"), "full_outer")
          .withColumn("rrf_fp",
            coalesce(expr("1000000000L DIV (60 + CAST(r_lex AS BIGINT))"),
              lit(0L)) +
            coalesce(expr("1000000000L DIV (60 + CAST(r_dense AS BIGINT))"),
              lit(0L)))
          .orderBy(col("rrf_fp").desc, col("doc_id").asc)
          .limit(10)
      },
      Some(s"""WITH $bm25SqlCtes,
              |lex AS (SELECT doc_id, r_lex FROM (
              |  SELECT doc_id, CAST(row_number() OVER (
              |    ORDER BY score_fp DESC, doc_id ASC) AS INT) AS r_lex
              |  FROM bm25) WHERE r_lex <= 20),
              |qv AS (SELECT embedding AS q_emb FROM embeddings
              |       WHERE vec_id = 0),
              |denseall AS (
              |  SELECT vec_id AS doc_id,
              |    ${cosSql("embedding", "q_emb")} AS cos
              |  FROM embeddings, qv WHERE vec_id <> 0),
              |dense AS (SELECT doc_id, r_dense FROM (
              |  SELECT doc_id, CAST(row_number() OVER (
              |    ORDER BY cos DESC, doc_id ASC) AS INT) AS r_dense
              |  FROM denseall) WHERE r_dense <= 20),
              |fused AS (
              |  SELECT coalesce(l.doc_id, de.doc_id) AS doc_id,
              |         l.r_lex, de.r_dense,
              |         CAST(coalesce(1000000000 // (60 + l.r_lex), 0) +
              |              coalesce(1000000000 // (60 + de.r_dense), 0)
              |           AS BIGINT) AS rrf_fp
              |  FROM lex l FULL OUTER JOIN dense de
              |    ON l.doc_id = de.doc_id)
              |SELECT doc_id, r_lex, r_dense, rrf_fp
              |FROM fused ORDER BY rrf_fp DESC, doc_id LIMIT 10"""
        .stripMargin)),

    // X69 hard-negative mining — the contrastive-training data op: for
    // each anchor vector, the top-k most-SIMILAR vectors carrying a
    // DIFFERENT label. These near-miss negatives are what make an
    // embedding model learn fine distinctions (in-batch random
    // negatives are trivially far); every retrieval/embedding training
    // pipeline mines them from the corpus it trains on. Same contract
    // as q41/q118: the anchor set is bounded (|anchors| ≪ corpus) and
    // BROADCAST, the corpus is scanned once with norms materialized
    // behind an exchange (computed once per vector, not per pair), the
    // label disequality rides the broadcast join condition (which also
    // excludes self — same label), and per-anchor top-k is a window
    // over anchors-many partitions, never corpus-partitioned. At 100 TB
    // the corpus side stays a single map-side pass; for anchor sets too
    // large to broadcast, the q54/q117 IVF cell-blocking is the
    // escalation path (same re-rank form, cell-bounded candidates).
    Q("q161_hard_negatives",
      (s, d) => {
        val e = embeddings(s, d)
          .select(col("vec_id"), col("label"), col("embedding"),
            norm(col("embedding")).as("nrm"))
          .repartition(col("vec_id"))
        val q = e.filter(col("vec_id") < 3)
          .select(col("vec_id").as("q_id"), col("label").as("q_label"),
            col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
        val w = Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("vec_id").asc)
        e.join(broadcast(q), col("label") =!= col("q_label"))
          .withColumn("cos",
            dot(col("embedding"), col("q_emb")) / (col("nrm") * col("q_nrm")))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select(col("q_id"), col("rn"), col("vec_id"),
            col("label").as("neg_label"), round(col("cos"), 6).as("cos_sim"))
          .orderBy("q_id", "rn")
      },
      Some(s"""WITH q AS (SELECT vec_id AS q_id, label AS q_label,
              |            embedding AS q_emb
              |           FROM embeddings WHERE vec_id < 3),
              |pairs AS (
              |  SELECT q_id, vec_id, label,
              |    ${cosSql("embedding", "q_emb")} AS cos
              |  FROM embeddings, q WHERE label <> q_label),
              |scored AS (
              |  SELECT q_id, vec_id, label, cos,
              |    row_number() OVER (PARTITION BY q_id
              |      ORDER BY cos DESC, vec_id ASC) AS rn
              |  FROM pairs)
              |SELECT q_id, CAST(rn AS INT) AS rn, vec_id,
              |       label AS neg_label, round(cos, 6) AS cos_sim
              |FROM scored WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin)),

    // X74 embedding cluster-separation audit — pairwise cosine between
    // per-label centroid vectors: the check run before trusting labels
    // (or cluster assignments) for stratified sampling, hard-negative
    // mining (q161), or SemDeDup cluster pruning (q119) — two labels
    // whose centroids cosine near ±1 are not separable classes, so
    // per-label quotas would be double-counting one population.
    // Exactness contract: each component is quantized to integer
    // thousandths (floor(e·1000) — float→double cast is exact), so the
    // per-(label, dim) component sums, the pairwise dot, and the norm
    // squares are ALL-INTEGER (DECIMAL(38,0) accumulation — a double
    // sum would be accumulation-order-dependent); cosine scale-
    // invariance means centroid division by n cancels, so the SUM
    // vector stands in for the centroid exactly. OUTPUT BOUND: the
    // final dot→BIGINT cast is exact only while |dot| < 2⁶³ ≈ 9.2e18.
    // With 64 dims and |qv| ≤ 1000, |sv| ≤ n·1000 per (label, dim)
    // (n = rows per label) so |dot| ≤ 64·(n_a·1000)·(n_b·1000) =
    // 6.4e7·n_a·n_b, which breaches 2⁶³ only once n_a·n_b > 1.4e11 —
    // i.e. ~3.8e5 rows PER LABEL balanced — ~190× the sf1 per-label
    // population (~2 000). Past it Spark's non-ANSI cast NULLs silently while
    // DuckDB errors — widen the output column to DECIMAL (or string)
    // and cast only the ppm if label populations ever approach that.
    // The one double step —
    // signed cos² ppm = ±floor(1e6·dot²/(naa·nbb)) — divides identical
    // exact integers cast to identical doubles in both engines.
    // Scale shape: corpus-sized work is ONE scan + a 64-way posexplode
    // absorbed by a map-side partial agg to (labels × dims) rows;
    // everything after runs on that tiny table (self-join on dim,
    // labels²-sized output). No per-pair corpus work anywhere.
    Q("q173_centroid_cosine",
      (s, d) => {
        val sums = embeddings(s, d)
          .select(col("label"),
            posexplode(col("embedding")).as(Seq("dim", "e")))
          .select(col("label"), col("dim"),
            floor(col("e").cast("double") * 1000).cast("long").as("qv"))
          .groupBy("label", "dim")
          .agg(sum(col("qv").cast("decimal(38,0)")).as("sv"))
        val n2 = sums.groupBy("label")
          .agg(sum(col("sv") * col("sv")).as("nn"))
        val ratio = (lit(1e6) *
          (col("dot").cast("double") * col("dot").cast("double")) /
          (col("naa").cast("double") * col("nbb").cast("double")))
        sums.as("a").join(sums.as("b"),
            col("a.dim") === col("b.dim") &&
              col("a.label") < col("b.label"))
          .groupBy(col("a.label").as("la"), col("b.label").as("lb"))
          .agg(sum(col("a.sv") * col("b.sv")).as("dot"))
          .join(n2.select(col("label").as("la"), col("nn").as("naa")),
            Seq("la"))
          .join(n2.select(col("label").as("lb"), col("nn").as("nbb")),
            Seq("lb"))
          .select(col("la"), col("lb"),
            col("dot").cast("long").as("dot"),
            when(col("dot") >= 0, floor(ratio))
              .otherwise(-floor(ratio)).cast("long").as("cos2_ppm"))
          .orderBy("la", "lb")
      },
      Some("""WITH q AS (
             |  SELECT label, i AS dim,
             |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000)
             |      AS BIGINT) AS qv
             |  FROM embeddings,
             |    unnest(range(1, len(embedding) + 1)) AS u(i)),
             |s AS (SELECT label, dim, sum(qv) AS sv FROM q GROUP BY 1, 2),
             |n2 AS (SELECT label, sum(sv * sv) AS nn FROM s GROUP BY 1),
             |p AS (SELECT a.label AS la, b.label AS lb,
             |    sum(a.sv * b.sv) AS dot
             |  FROM s a JOIN s b ON a.dim = b.dim AND a.label < b.label
             |  GROUP BY 1, 2)
             |SELECT p.la, p.lb, CAST(p.dot AS BIGINT) AS dot,
             |  CAST(CASE WHEN p.dot >= 0 THEN
             |    floor(1e6 * (CAST(p.dot AS DOUBLE) * CAST(p.dot AS DOUBLE))
             |      / (CAST(na.nn AS DOUBLE) * CAST(nb.nn AS DOUBLE)))
             |  ELSE
             |    -floor(1e6 * (CAST(p.dot AS DOUBLE) * CAST(p.dot AS DOUBLE))
             |      / (CAST(na.nn AS DOUBLE) * CAST(nb.nn AS DOUBLE)))
             |  END AS BIGINT) AS cos2_ppm
             |FROM p
             |JOIN n2 na ON na.label = p.la
             |JOIN n2 nb ON nb.label = p.lb
             |ORDER BY la, lb""".stripMargin)),

    // X79 mutual nearest-neighbor mining — pairs of vectors that are
    // each other's top-1 cosine neighbor within their sign-LSH bucket:
    // the margin-free reciprocal-NN criterion parallel-corpus and
    // paired-data mining uses (a one-directional NN is often a hub
    // artifact; mutuality is the cheap symmetric filter). Determinism:
    // top-1 is (cos DESC, vec_id ASC) — and within a bucket the max-cos
    // pair is always mutual, so every ≥2-member bucket yields at least
    // one pair.
    // Scale shape: contract to DISTINCT VECTORS first (min-id
    // representative — verbatim embedding copies from exact-dup docs
    // otherwise make every copy's top-1 its own twin at cos 1.0,
    // drowning genuine neighbors AND growing bucket pair counts with
    // copies²: the q119 copy-invariant rule in embedding space;
    // measured 3.9 s → sf0.1-flat at sf1). Then q51's bucket contract —
    // candidate pairs exist ONLY within the 8-bit sign bucket
    // (equi-join, never all-pairs; at production scale the bit-width
    // dials bucket size down as the corpus grows), norms materialized
    // once behind the scan; the top-1 window is per-vector over its
    // bucket-bounded candidates; mutuality is a self-join of the tiny
    // top-1 table on the reversed id pair.
    Q("q179_mutual_nn",
      (s, d) => {
        val bucket = (0 until 8).map { j =>
          when(element_at(col("embedding"), j + 1) > 0f, lit(1 << j))
            .otherwise(0)
        }.reduce(_ + _)
        val distinctVecs = embeddings(s, d)
          .groupBy(col("embedding")).agg(min(col("vec_id")).as("vec_id"))
        val e = withNorm(distinctVecs)
          .select(col("vec_id"), col("embedding"), col("nrm"),
            bucket.as("bucket"))
        val cand = e.as("a").join(e.as("b"),
            col("a.bucket") === col("b.bucket") &&
              col("a.vec_id") =!= col("b.vec_id"))
          .select(col("a.vec_id").as("id"), col("b.vec_id").as("nb"),
            (dot(col("a.embedding"), col("b.embedding")) /
              (col("a.nrm") * col("b.nrm"))).as("cos"))
        val w = Window.partitionBy("id")
          .orderBy(col("cos").desc, col("nb").asc)
        val top1 = cand.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).select("id", "nb")
        top1.as("x").join(top1.as("y"),
            col("x.id") === col("y.nb") && col("x.nb") === col("y.id") &&
              col("x.id") < col("x.nb"))
          .select(col("x.id").as("a_id"), col("x.nb").as("b_id"))
          .orderBy("a_id", "b_id")
      },
      Some {
        val bSql = (0 until 8).map { j =>
          s"(CASE WHEN embedding[${j + 1}] > 0 THEN ${1 << j} ELSE 0 END)"
        }.mkString(" + ")
        s"""WITH dv AS (SELECT min(vec_id) AS vec_id, embedding
           |            FROM embeddings GROUP BY embedding),
           |e AS (SELECT vec_id, embedding, ($bSql) AS bucket FROM dv),
           |cand AS (
           |  SELECT a.vec_id AS id, b.vec_id AS nb,
           |    ${cosSql("a.embedding", "b.embedding")} AS cos
           |  FROM e a JOIN e b ON a.bucket = b.bucket
           |    AND a.vec_id <> b.vec_id),
           |top1 AS (
           |  SELECT id, nb FROM (
           |    SELECT id, nb, row_number() OVER (PARTITION BY id
           |      ORDER BY cos DESC, nb ASC) AS rn FROM cand)
           |  WHERE rn = 1)
           |SELECT x.id AS a_id, x.nb AS b_id
           |FROM top1 x JOIN top1 y
           |  ON x.id = y.nb AND x.nb = y.id AND x.id < x.nb
           |ORDER BY a_id, b_id""".stripMargin
      }),

    // X86 int8 embedding-quantization audit — the compression decision
    // every billion-vector ANN index makes (float32 → int8 per-channel
    // affine quantization, 4× memory; PQ's X26 cousin with exact
    // per-value error accounting): per DIMENSION, the corpus min/max,
    // the derived integer scale, and the worst/mean reconstruction
    // error — shipped BEFORE swapping the serving index to int8, since
    // one heavy-tailed channel can blow the recall budget. ALL-INTEGER:
    // components are milli-quantized exactly (floor(e·1000) — q173's
    // trick), scale = ceil((max−min)/255) via (max−min+254) DIV 255,
    // code = (qv−min) DIV scale ∈ [0,255], recon = min + code·scale +
    // scale DIV 2, so err ≤ scale DIV 2 is a THEOREM the spec asserts —
    // no float rounding anywhere, both engines replay bit-exactly.
    // Scale shape: two passes over one posexplode of the embedding
    // column (per-dim min/max partial agg → 64-row broadcast → map-side
    // code/err → per-dim max/sum partial agg); nothing corpus-sized
    // survives either agg; embeddings never shuffle.
    Q("q194_int8_quant_audit",
      (s, d) => {
        val q = embeddings(s, d)
          .select(posexplode(col("embedding")).as(Seq("dim0", "e")))
          .select((col("dim0") + 1).cast("long").as("dim"),
            floor(col("e").cast("double") * 1000).cast("long").as("qv"))
        val rng = q.groupBy("dim")
          .agg(min("qv").as("vmin"), max("qv").as("vmax"))
          .withColumn("scale",
            greatest(lit(1L), expr("(vmax - vmin + 254) DIV 255")))
        q.join(broadcast(rng), "dim")
          .withColumn("code", expr("(qv - vmin) DIV scale"))
          .withColumn("err",
            abs(col("qv") -
              (col("vmin") + col("code") * col("scale") +
                expr("scale DIV 2"))))
          .groupBy("dim")
          .agg(min("vmin").as("vmin"), min("vmax").as("vmax"),
            min("scale").as("scale"),
            max("err").as("max_err"),
            count(lit(1)).as("n"),
            sum("err").as("sum_err"))
          .select(col("dim"), col("vmin"), col("vmax"), col("scale"),
            col("max_err"),
            expr("(1000 * sum_err) DIV n").as("mean_err_milli"))
          .orderBy("dim")
      },
      Some("""WITH q AS (
             |  SELECT CAST(i AS BIGINT) AS dim,
             |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000)
             |      AS BIGINT) AS qv
             |  FROM embeddings,
             |    unnest(range(1, len(embedding) + 1)) AS u(i)),
             |rng AS (
             |  SELECT dim, min(qv) AS vmin, max(qv) AS vmax,
             |    greatest(1, (max(qv) - min(qv) + 254) // 255) AS scale
             |  FROM q GROUP BY dim),
             |coded AS (
             |  SELECT q.dim, rng.vmin, rng.vmax, rng.scale,
             |    abs(q.qv - (rng.vmin
             |      + ((q.qv - rng.vmin) // rng.scale) * rng.scale
             |      + rng.scale // 2)) AS err
             |  FROM q JOIN rng ON rng.dim = q.dim)
             |SELECT dim, min(vmin) AS vmin, min(vmax) AS vmax,
             |  min(scale) AS scale,
             |  CAST(max(err) AS BIGINT) AS max_err,
             |  CAST((1000 * sum(err)) // count(*) AS BIGINT)
             |    AS mean_err_milli
             |FROM coded GROUP BY dim ORDER BY dim""".stripMargin)),

    // X94 greedy k-center diverse selection (Gonzalez 1985 farthest-point
    // traversal — the 2-approximation to the k-center objective): pick 8
    // maximally-separated representatives from the embedding corpus — the
    // diversity-sampling step a training-data pipeline runs to seed
    // curriculum anchors / eval probes where top-k-similar (X3) would
    // return near-duplicates. Seed = min rep_id; each round selects the
    // point FARTHEST (cosine distance, ties by rep_id) from everything
    // selected so far, then folds the new center into the running
    // min-distance via least() — selected rows carry the −1 sentinel so
    // they can never win again. The round-9 pick is reported WITHOUT
    // being folded: its separation IS the coverage radius of the 8
    // centers (the k-center objective value, ≤ 2× optimal).
    // Copy-invariant by construction: the candidate set is DISTINCT
    // embedding content (min vec_id as rep, multiplicity kept as n_dup) —
    // sf1's verbatim replication changes NOTHING but n_dup (the scaler
    // shifts only vec_id), the q167/q139 contraction discipline.
    // Determinism: every distance is the q41 replayable double (dot in
    // array order / materialized norms), argmax ties break on rep_id, and
    // round(…, 6) is the floor-form roundAt.
    // Scale shape: the contraction is one partial+final agg over the
    // corpus (the only corpus-proportional stage); each round is ONE
    // narrow broadcast (the single new center) + a map-side least() +
    // a TakeOrdered(1) — never a pairwise join, never a corpus shuffle —
    // cut by Materialize.cut (the q196/q201 iterative idiom, flat
    // lineage at any k). At 100 TB the candidate set is the cluster-
    // representative table (X25), not raw vectors — same code path.
    Q("q208_kcenter_diverse",
      (s, d) => {
        val base = embeddings(s, d)
          .groupBy("embedding")
          .agg(min("vec_id").as("rep_id"), count(lit(1)).as("n_dup"))
          .select(col("rep_id"), col("n_dup"), col("embedding"),
            QueriesText.norm(col("embedding")).as("nrm"))
          .transform(Materialize.cut)
        val seed = base.orderBy(col("rep_id").asc).limit(1)
          .select(col("rep_id").as("c_id"), col("embedding").as("c_emb"),
            col("nrm").as("c_nrm"), col("n_dup").as("c_dup"))
        def distToC: Column =
          lit(1.0) - dot(col("embedding"), col("c_emb")) /
            (col("nrm") * col("c_nrm"))
        var state = base.crossJoin(broadcast(seed))
          .select(col("rep_id"), col("n_dup"), col("embedding"),
            col("nrm"),
            when(col("rep_id") === col("c_id"), lit(-1.0))
              .otherwise(distToC).as("md"))
          .transform(Materialize.cut)
        var out = seed.select(lit(0).as("round"),
          col("c_id").as("rep_id"), col("c_dup").as("n_dup"),
          lit(0.0).as("sep"))
        for (r <- 1 to 8) {
          val pick = state.orderBy(col("md").desc, col("rep_id").asc)
            .limit(1)
            .select(col("rep_id").as("c_id"), col("embedding")
              .as("c_emb"), col("nrm").as("c_nrm"),
              col("n_dup").as("c_dup"), col("md").as("c_md"))
            .transform(Materialize.cut)
          out = out.union(pick.select(lit(r).as("round"),
            col("c_id").as("rep_id"), col("c_dup").as("n_dup"),
            Scalars.roundAt(col("c_md"), 6).as("sep")))
          if (r < 8) state = state.crossJoin(broadcast(pick))
            .select(col("rep_id"), col("n_dup"), col("embedding"),
              col("nrm"),
              when(col("rep_id") === col("c_id"), lit(-1.0))
                .otherwise(least(col("md"), distToC)).as("md"))
            .transform(Materialize.cut)
        }
        out.orderBy("round")
      },
      Some {
        def distSql(a: String, b: String) = s"(1.0 - ${cosSql(a, b)})"
        val rounds = (1 to 8).map { r =>
          val upd = if (r < 8)
            s""",
               |r$r AS MATERIALIZED (
               |  SELECT r.rep_id, r.n_dup, r.embedding,
               |    CASE WHEN r.rep_id = p.rep_id THEN -1.0
               |      ELSE least(r.md,
               |        ${distSql("r.embedding", "p.embedding")}) END AS md
               |  FROM r${r - 1} r, p$r p)""".stripMargin
          else ""
          s""",
             |p$r AS MATERIALIZED (
             |  SELECT rep_id, n_dup, embedding, md FROM r${r - 1}
             |  ORDER BY md DESC, rep_id ASC LIMIT 1)$upd""".stripMargin
        }.mkString
        val sel = (1 to 8).map { r =>
          s"""UNION ALL SELECT CAST($r AS INT) AS round, rep_id, n_dup,
             |  ${Scalars.roundAtSql("md", 6)} AS sep FROM p$r
             |""".stripMargin
        }.mkString
        s"""WITH reps AS MATERIALIZED (
           |  SELECT min(vec_id) AS rep_id, CAST(count(*) AS BIGINT)
           |      AS n_dup, embedding
           |  FROM embeddings GROUP BY embedding),
           |seed AS MATERIALIZED (
           |  SELECT * FROM reps ORDER BY rep_id LIMIT 1),
           |r0 AS MATERIALIZED (
           |  SELECT r.rep_id, r.n_dup, r.embedding,
           |    CASE WHEN r.rep_id = s.rep_id THEN -1.0
           |      ELSE ${distSql("r.embedding", "s.embedding")} END AS md
           |  FROM reps r, seed s)$rounds
           |SELECT CAST(0 AS INT) AS round, rep_id, n_dup,
           |  CAST(0.0 AS DOUBLE) AS sep FROM seed
           |$sel ORDER BY round""".stripMargin
      }),
  )
}
