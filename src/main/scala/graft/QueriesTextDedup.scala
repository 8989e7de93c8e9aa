package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Materialize, Scalars}

/** Dedup family of the text extension tier (SURVEY.md §2.11 X1/X2/X18/
  X27/X46/X51/X57/X58/X60/X61/X62/X64/X68/X75): exact, MinHash/LSH,
  SimHash, n-gram Jaccard, embedding near-dup, closure, incremental
  folds, verification tiers, and the dedup audits. Shared machinery
  (signatures, band joins, contraction, closure CTEs) lives in
  [[QueriesText]]; design rationale in SCALE.md.
  *
  * Split out of QueriesText.scala in round 11 (the file had reached
  * 3,300 lines across 9 families — VERDICT r10 #7); queries are
  * verbatim, the registry order groups by family now.
  */
object QueriesTextDedup {
  import Tables._
  import QueriesText._

  val all: Seq[Q] = Seq(

    // X1 exact dedup: content-hash groupBy, keep min doc_id per hash.
    // Shuffles 32-byte sha2 keys, never document bodies.
    Q("q40_text_dedup",
      (s, d) => {
        val w = Window.partitionBy("h").orderBy("doc_id")
        documents(s, d)
          .select(col("doc_id"), sha2(col("text"), 256).as("h"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("doc_id")
          .orderBy("doc_id")
      },
      Some("""SELECT min(doc_id) AS doc_id FROM documents
             |GROUP BY text ORDER BY doc_id""".stripMargin)),

    // X2 MinHash signatures (4 hash fns over the 3-shingle set) — per-row,
    // no shuffle; the deterministic md5-based hash family is replayed
    // exactly by the oracle. fanOut: the signature math dominates the scan,
    // so lift to full core parallelism (Tables.fanOut scaladoc).
    Q("q47_minhash_sig",
      (s, d) => minhashSigs(documents(s, d)).orderBy("doc_id"),
      Some {
        val hsSel = MinhashAB.zipWithIndex.map { case ((a, b), i) =>
          s"  ${minhashSqlExpr(a, b)} AS h$i"
        }.mkString(",\n")
        s"""WITH t AS (SELECT doc_id, $shinglesSql AS ws FROM documents),
           |th AS (SELECT doc_id, $tokenHashesSql AS hs FROM t)
           |SELECT doc_id,
           |$hsSel
           |FROM th ORDER BY doc_id""".stripMargin
      }),

    // X2 LSH banding: 2 bands × 2 hashes; candidate pairs share a band key.
    // This equi-join on (band, key) is the 100 TB near-dup path — no O(n²).
    // Shingle features keep band buckets small (see Scalars.shingles3).
    Q("q53_minhash_band_pairs",
      (s, d) => bandPairs(documents(s, d)).orderBy("a_id", "b_id"),
      Some {
        def h(i: Int): String = minhashSqlExpr(
          MinhashAB(i)._1, MinhashAB(i)._2)
        s"""WITH t AS (SELECT doc_id, $shinglesSql AS ws FROM documents),
           |th AS (SELECT doc_id, $tokenHashesSql AS hs FROM t),
           |sig AS (SELECT doc_id, ${h(0)} AS h0, ${h(1)} AS h1,
           |               ${h(2)} AS h2, ${h(3)} AS h3 FROM th),
           |bands AS (
           |  SELECT doc_id, ('b0-' || h0 || '-' || h1) AS band_key FROM sig
           |  UNION ALL
           |  SELECT doc_id, ('b1-' || h2 || '-' || h3) AS band_key FROM sig)
           |SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           |FROM bands a JOIN bands b ON a.band_key = b.band_key
           |WHERE a.doc_id < b.doc_id
           |ORDER BY a_id, b_id""".stripMargin
      }),

    // n-gram (word-set) Jaccard similarity on a bounded id range — at scale
    // this runs on q53's candidate pairs instead of all pairs.
    Q("q48_ngram_jaccard",
      (s, d) => {
        val dd = documents(s, d).filter(col("doc_id") < 60)
          .select(col("doc_id"),
            array_distinct(split(col("text"), " ")).as("ws"))
        val a = dd.select(col("doc_id").as("a_id"), col("ws").as("a_ws"))
        val b = dd.select(col("doc_id").as("b_id"), col("ws").as("b_ws"))
        a.join(broadcast(b), col("a_id") < col("b_id"))
          .select(col("a_id"), col("b_id"),
            size(array_intersect(col("a_ws"), col("b_ws"))).as("inter"),
            size(col("a_ws")).as("na"), size(col("b_ws")).as("nb"))
          .withColumn("jaccard",
            round(col("inter").cast("double") /
              (col("na") + col("nb") - col("inter")), 4))
          .filter(col("jaccard") >= 0.8)
          .select("a_id", "b_id", "jaccard")
          .orderBy("a_id", "b_id")
      },
      Some("""WITH dd AS (SELECT doc_id, list_distinct(str_split(text, ' '))
             |              AS ws FROM documents WHERE doc_id < 60),
             |pairs AS (
             |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             |    len(list_intersect(a.ws, b.ws)) AS inter,
             |    len(a.ws) AS na, len(b.ws) AS nb
             |  FROM dd a JOIN dd b ON a.doc_id < b.doc_id)
             |SELECT a_id, b_id,
             |  round(CAST(inter AS DOUBLE) / (na + nb - inter), 4) AS jaccard
             |FROM pairs
             |WHERE round(CAST(inter AS DOUBLE) / (na + nb - inter), 4) >= 0.8
             |ORDER BY a_id, b_id""".stripMargin)),

    // SimHash (16-bit) over the word set with the shared token hash.
    Q("q49_simhash",
      (s, d) => {
        // Relational simhash: explode word hashes, one partial+final hash
        // aggregation with 16 simple bit-sum measures, then reassemble the
        // bits. No array-lambda mega-expressions (their generated code is
        // large enough that first-run interpreted execution dominates), and
        // the explode→groupBy shape is exactly how this scales on a
        // cluster: map-side combine keeps the shuffle at one row per doc.
        val bitSums = (0 until 16).map { b =>
          sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1L)
            .otherwise(-1L)).as(s"s$b")
        }
        val sim = (0 until 16).map { b =>
          when(col(s"s$b") > 0, lit(1L << b)).otherwise(0L)
        }.reduce(_ + _)
        fanOut(documents(s, d))
          .select(col("doc_id"),
            explode(array_distinct(split(col("text"), " "))).as("w"))
          .select(col("doc_id"), Scalars.tokenHash(col("w")).as("h"))
          .groupBy("doc_id")
          .agg(bitSums.head, bitSums.tail: _*)
          .select(col("doc_id"), sim.as("simhash"))
          .orderBy("doc_id")
      },
      Some {
        def bitSumSql(b: Int): String =
          s"list_sum(list_transform(hs, h -> CASE WHEN " +
            s"((h >> $b) & 1) = 1 THEN 1 ELSE -1 END))"
        val sim = (0 until 16).map { b =>
          s"(CASE WHEN ${bitSumSql(b)} > 0 THEN ${1L << b} ELSE 0 END)"
        }.mkString(" + ")
        s"""WITH t AS (SELECT doc_id, list_distinct(str_split(text, ' '))
           |             AS ws FROM documents),
           |th AS (SELECT doc_id, list_transform(ws, w -> ${tokSql("w")})
           |         AS hs FROM t)
           |SELECT doc_id, CAST($sim AS BIGINT) AS simhash
           |FROM th ORDER BY doc_id""".stripMargin
      }),

    // Embedding-cosine near-dup pairs on a bounded id range (the synthetic
    // vectors are near-orthogonal, so the demo threshold is 0.35; at scale
    // the q51 LSH bucket join prunes the pair space first).
    Q("q50_embed_neardup",
      (s, d) => {
        val e = withNorm(embeddings(s, d).filter(col("vec_id") < 200))
        val a = e.select(col("vec_id").as("a_id"), col("embedding").as("a_e"),
          col("nrm").as("a_n"))
        val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_e"),
          col("nrm").as("b_n"))
        a.join(broadcast(b), col("a_id") < col("b_id"))
          .withColumn("cos",
            dot(col("a_e"), col("b_e")) / (col("a_n") * col("b_n")))
          .filter(col("cos") >= 0.35)
          .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cos_sim"))
          .orderBy("a_id", "b_id")
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding FROM embeddings
              |           WHERE vec_id < 200),
              |pairs AS (
              |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
              |    ${cosSql("a.embedding", "b.embedding")} AS cos
              |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
              |SELECT a_id, b_id, round(cos, 6) AS cos_sim
              |FROM pairs WHERE cos >= 0.35 ORDER BY a_id, b_id""".stripMargin)),

    // X1c end-to-end near-dup prune: the q53 LSH candidate pairs applied as
    // a dedup decision — drop every doc that appears as the larger id of a
    // candidate pair (keep-first policy), then report the per-language kept
    // counts. This is the full 100 TB dedup flow: signature → band join →
    // anti-join, with no pairwise scan outside the candidate set.
    Q("q75_near_dup_prune",
      (s, d) => {
        val sigs = minhashSigs(documents(s, d))
        val bands = sigs.select(col("doc_id"),
          explode(array(
            concat_ws("-", lit("b0"), col("h0"), col("h1")),
            concat_ws("-", lit("b1"), col("h2"), col("h3")))).as("band_key"))
        val a = bands.select(col("doc_id").as("a_id"), col("band_key"))
        val b = bands.select(col("doc_id").as("b_id"), col("band_key"))
        val drop = a.join(b, Seq("band_key"))
          .filter(col("a_id") < col("b_id"))
          .select(col("b_id").as("doc_id")).distinct()
        documents(s, d)
          .join(drop, Seq("doc_id"), "left_anti")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_kept"))
          .orderBy("lang")
      },
      Some {
        def h(i: Int): String = minhashSqlExpr(
          MinhashAB(i)._1, MinhashAB(i)._2)
        s"""WITH t AS (SELECT doc_id, $shinglesSql AS ws FROM documents),
           |th AS (SELECT doc_id, $tokenHashesSql AS hs FROM t),
           |sig AS (SELECT doc_id, ${h(0)} AS h0, ${h(1)} AS h1,
           |               ${h(2)} AS h2, ${h(3)} AS h3 FROM th),
           |bands AS (
           |  SELECT doc_id, ('b0-' || h0 || '-' || h1) AS band_key FROM sig
           |  UNION ALL
           |  SELECT doc_id, ('b1-' || h2 || '-' || h3) AS band_key FROM sig),
           |drop AS (SELECT DISTINCT b.doc_id
           |  FROM bands a JOIN bands b ON a.band_key = b.band_key
           |  WHERE a.doc_id < b.doc_id)
           |SELECT lang, CAST(count(*) AS BIGINT) AS n_kept
           |FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM drop)
           |GROUP BY lang ORDER BY lang""".stripMargin
      }),

    // X1d dedup CLUSTER transitive closure: near-dup relations chain
    // (A~B, B~C with A,C never band-colliding), so cluster-level dedup
    // labels every paired doc with its connected component
    // (ops/ConnectedComponents.labelMinProp: min-label propagation,
    // O(diameter) shuffle rounds, no collect — dense near-dup graphs have
    // a tiny diameter at any corpus size; it fail-fasts rather than
    // under-merging if that assumption ever breaks). Output = cluster-size
    // histogram.
    // Oracle replays the closure with a recursive CTE.
    // Bench profile: ~40% is the one-time pair generation (q53's shared
    // pipeline), the rest is per-round scheduling over EDGE-LIST-sized
    // (not corpus-sized) shuffles — rounds are bounded by cluster
    // diameter, which is tiny for near-dup graphs at any corpus size.
    Q("q92_dedup_components",
      (s, d) => {
        // standalone per driver contract: fresh closure. The shared-
        // materialization form runs DedupPipeline.labels once and feeds
        // both consumers — same stage functions.
        val docs = documents(s, d)
        graft.pipelines.DedupPipeline.sizeHistogram(
          graft.pipelines.DedupPipeline.labels(docs))
      },
      Some {
        s"""WITH RECURSIVE
           |$closureSqlCtes,
           |sizes AS (SELECT component, count(*) AS csize
           |          FROM comp GROUP BY component)
           |SELECT CAST(csize AS BIGINT) AS csize,
           |       CAST(count(*) AS BIGINT) AS n_clusters
           |FROM sizes GROUP BY csize ORDER BY csize""".stripMargin
      }),

    // X1e cluster-representative dedup — the step the closure feeds:
    // q92 labels clusters, THIS keeps exactly one survivor per cluster
    // (longest text wins, doc_id tiebreak; docs in no pair survive as
    // their own cluster via the left join — q75's anti-join shape).
    // Window is partitioned by cluster (high-cardinality key),
    // rn=1 planned as WindowGroupLimit → map-side prune, the exchange
    // carries O(1) rows per cluster (plan-gated). Oracle replays closure
    // (recursive CTE) + argmax window.
    Q("q93_cluster_representatives",
      (s, d) => {
        // standalone per driver contract: fresh closure (see q92 note).
        val docs = documents(s, d)
        graft.pipelines.DedupPipeline.representatives(docs,
          graft.pipelines.DedupPipeline.labels(docs))
      },
      Some {
        s"""WITH RECURSIVE
           |$closureSqlCtes,
           |lab AS (
           |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster,
           |         d.n_chars
           |  FROM documents d LEFT JOIN comp c ON c.v = d.doc_id)
           |SELECT cluster, doc_id, n_chars FROM (
           |  SELECT cluster, doc_id, n_chars,
           |         row_number() OVER (PARTITION BY cluster
           |           ORDER BY n_chars DESC, doc_id ASC) AS rn
           |  FROM lab) WHERE rn = 1 ORDER BY cluster""".stripMargin
      }),

    // X46 cluster-size-weighted SOFT dedup sampling — the D4/SemDeDup-family
    // alternative to hard dedup (q93 keeps ONE survivor per cluster): every
    // member of an n-doc near-dup cluster is kept with probability 1/n, so
    // each distinct content contributes ~1 expected doc while intra-cluster
    // variety (crawl timestamps, mirrors, near-variants) survives
    // proportionally. Weights are exact ppm fixed point (1e6 DIV csize);
    // the keep decision is the X11 deterministic content-hash rule, NOT
    // rand() — reproducible across runs/partitionings, point-answerable
    // per doc. Output = per-source raw docs, summed weight (the effective
    // post-sampling corpus size in ppm-docs), and the realized keep count.
    // Scale shape: labels come from the PERSISTED dedup index
    // (DedupPipeline.cachedFold — the q115/q128 maintained-artifact
    // contract; fold-vs-scratch bit-identity is spec-pinned), so the
    // weighting pays one labels join, never a closure rebuild; cluster
    // sizes via a window over the cluster label — 8-byte keys, O(1) rows
    // per cluster partition — then a partial agg over sources-many
    // groups; nothing pairwise, nothing collected.
    Q("q135_soft_dedup_sample",
      (s, d) => {
        val docs = documents(s, d)
        val labels = graft.pipelines.DedupPipeline.cachedFold(s, d).labels
        val labeled = docs
          .join(labels, docs("doc_id") === labels("v"), "left")
          .withColumn("cluster", coalesce(col("component"), col("doc_id")))
        val wc = Window.partitionBy("cluster")
        labeled
          .withColumn("csize", count(lit(1)).over(wc))
          .withColumn("w_ppm", expr("1000000L DIV csize"))
          .withColumn("kept",
            pmod(Scalars.tokenHash(
              concat(lit("soft:"), col("doc_id").cast("string"))),
              lit(1000000L)) < col("w_ppm"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("w_ppm").as("eff_ppm"),
            sum(when(col("kept"), 1L).otherwise(0L)).as("kept_docs"))
          .orderBy("source")
      },
      Some {
        val keepHash = "(('0x' || substr(md5('soft:' || " +
          "CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000)"
        s"""WITH RECURSIVE
           |$closureSqlCtes,
           |lab AS (
           |  SELECT d.doc_id, d.source,
           |         coalesce(c.component, d.doc_id) AS cluster
           |  FROM documents d LEFT JOIN comp c ON c.v = d.doc_id),
           |wgt AS (
           |  SELECT doc_id, source,
           |         1000000 // (count(*) OVER (PARTITION BY cluster))
           |           AS w_ppm
           |  FROM lab),
           |k AS (
           |  SELECT source, w_ppm,
           |         CASE WHEN $keepHash < w_ppm THEN 1 ELSE 0 END AS kept
           |  FROM wgt)
           |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(w_ppm) AS BIGINT) AS eff_ppm,
           |       CAST(sum(kept) AS BIGINT) AS kept_docs
           |FROM k GROUP BY source ORDER BY source""".stripMargin
      }),

    // X27 incremental dedup — the index-maintenance form of q92: the corpus
    // arrives as 3 batches; each batch is shingled ONCE, joined against the
    // persisted (doc_id, band_key) index, and only components touched by a
    // new edge are re-closed (pipelines/DedupPipeline.addBatchBands). The final
    // labels are bit-identical to the from-scratch closure — which is
    // exactly what the oracle replays (q92's recursive CTE over the FULL
    // corpus). At 100 TB this is the daily-ingest shape: per-day cost
    // tracks the batch, not the corpus. The fold itself is a first-touch
    // LayoutCache artifact (DedupPipeline.cachedFold): the index is built
    // once per corpus dir and every consumer (this dump, q115, q128)
    // reads the persisted tables — the maintained-index production shape.
    Q("q112_incremental_dedup",
      (s, d) => graft.pipelines.DedupPipeline
        .cachedFold(s, d).labels.orderBy("v"),
      Some {
        def h(i: Int): String = minhashSqlExpr(
          MinhashAB(i)._1, MinhashAB(i)._2)
        s"""WITH RECURSIVE
           |t AS (SELECT doc_id, $shinglesSql AS ws FROM documents),
           |th AS (SELECT doc_id, $tokenHashesSql AS hs FROM t),
           |sig AS (SELECT doc_id, ${h(0)} AS h0, ${h(1)} AS h1,
           |               ${h(2)} AS h2, ${h(3)} AS h3 FROM th),
           |bands AS (
           |  SELECT doc_id, ('b0-' || h0 || '-' || h1) AS band_key FROM sig
           |  UNION ALL
           |  SELECT doc_id, ('b1-' || h2 || '-' || h3) AS band_key FROM sig),
           |pairs AS (
           |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           |  FROM bands a JOIN bands b ON a.band_key = b.band_key
           |  WHERE a.doc_id < b.doc_id),
           |edges AS (
           |  SELECT a_id AS src, b_id AS dst FROM pairs
           |  UNION
           |  SELECT b_id, a_id FROM pairs),
           |verts AS (SELECT DISTINCT src AS v FROM edges),
           |reach(v, r) AS (
           |  SELECT v, v FROM verts
           |  UNION
           |  SELECT e.dst, reach.r FROM reach JOIN edges e
           |    ON e.src = reach.v),
           |comp AS (SELECT v, min(r) AS component FROM reach GROUP BY v)
           |SELECT v, component FROM comp ORDER BY v""".stripMargin
      }),

    // X28 per-batch dedup verdict — the decision the incremental index
    // (q112) exists to serve daily: after folding the corpus's batches,
    // which docs of the LAST batch are novel vs duplicates of anything
    // older? One batch-sized left join against the maintained labels (no
    // closure re-run); kept iff the doc IS its cluster's min-id label or
    // was never paired. The labels come from the SAME persisted
    // LayoutCache artifact q112 dumps (DedupPipeline.cachedFold), so in
    // steady state this query is exactly what it claims to be in
    // production: one batch-sized join against maintained labels — no
    // fold re-run, no corpus re-shingle (PlanSpec-gated). Oracle replays
    // the from-scratch closure and the same keep rule.
    Q("q115_batch_verdict",
      (s, d) => {
        val docs = documents(s, d)
        val idx = graft.pipelines.DedupPipeline.cachedFold(s, d)
        graft.pipelines.DedupPipeline.batchVerdict(idx.labels,
          docs.filter(pmod(col("doc_id"), lit(3)) === 2))
      },
      Some {
        def h(i: Int): String = minhashSqlExpr(
          MinhashAB(i)._1, MinhashAB(i)._2)
        s"""WITH RECURSIVE
           |t AS (SELECT doc_id, $shinglesSql AS ws FROM documents),
           |th AS (SELECT doc_id, $tokenHashesSql AS hs FROM t),
           |sig AS (SELECT doc_id, ${h(0)} AS h0, ${h(1)} AS h1,
           |               ${h(2)} AS h2, ${h(3)} AS h3 FROM th),
           |bands AS (
           |  SELECT doc_id, ('b0-' || h0 || '-' || h1) AS band_key FROM sig
           |  UNION ALL
           |  SELECT doc_id, ('b1-' || h2 || '-' || h3) AS band_key FROM sig),
           |pairs AS (
           |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           |  FROM bands a JOIN bands b ON a.band_key = b.band_key
           |  WHERE a.doc_id < b.doc_id),
           |edges AS (
           |  SELECT a_id AS src, b_id AS dst FROM pairs
           |  UNION
           |  SELECT b_id, a_id FROM pairs),
           |verts AS (SELECT DISTINCT src AS v FROM edges),
           |reach(v, r) AS (
           |  SELECT v, v FROM verts
           |  UNION
           |  SELECT e.dst, reach.r FROM reach JOIN edges e
           |    ON e.src = reach.v),
           |comp AS (SELECT v, min(r) AS component FROM reach GROUP BY v)
           |SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster,
           |       (c.component IS NULL OR c.component = d.doc_id) AS is_novel
           |FROM documents d LEFT JOIN comp c ON c.v = d.doc_id
           |WHERE d.doc_id % 3 = 2
           |ORDER BY d.doc_id""".stripMargin
      }),

    // X51 edit-distance verification stage — the PRECISION pass of the
    // canonical two-stage fuzzy-dedup pipeline (LSH recall → exact
    // verification; the structure every production near-dup system runs:
    // band candidates are probabilistic, so each surviving pair is
    // CONFIRMED by an exact character-level similarity before any doc is
    // dropped). Candidates come from the PERSISTED band index
    // (DedupPipeline.cachedFold — the X27 maintained-artifact contract,
    // same as q128/q135/q138: no corpus re-shingle); verification is
    // Spark's codegen'd levenshtein on the pair's two texts, normalized
    // as exact ppm fixed point (1e6·(maxlen−dist) DIV maxlen — no IEEE
    // division in a declared result). Pairs at ≥0.9 are verified dups;
    // at sf0.01 this keeps 25 of 27 candidates and rejects exactly the 2
    // band false-positives (sim ≈ 0.3) — the filter earning its place.
    // Scale shape: cost = O(distinct unequal CONTENT pairs) · O(len²) —
    // never corpus-pairwise, and invariant to exact-copy multiplicity
    // (editSims computes each distinct content pair once and fans the
    // verdict back out through the (doc → sha2) tags; measured at sf1
    // this is ~250k ID pairs but ~270 levenshtein calls). At 100 TB the
    // verification stage tracks near-duplicate content density, not
    // corpus size and not copy counts — the production cost model.
    Q("q139_editdist_verify",
      (s, d) => editSims(s, d)
        .filter(col("sim_ppm") >= 900000L)
        .orderBy("a_id", "b_id"),
      Some {
        def h(i: Int): String = minhashSqlExpr(
          MinhashAB(i)._1, MinhashAB(i)._2)
        s"""WITH t AS (SELECT doc_id, $shinglesSql AS ws FROM documents),
           |th AS (SELECT doc_id, $tokenHashesSql AS hs FROM t),
           |sig AS (SELECT doc_id, ${h(0)} AS h0, ${h(1)} AS h1,
           |               ${h(2)} AS h2, ${h(3)} AS h3 FROM th),
           |bands AS (
           |  SELECT doc_id, ('b0-' || h0 || '-' || h1) AS band_key FROM sig
           |  UNION ALL
           |  SELECT doc_id, ('b1-' || h2 || '-' || h3) AS band_key FROM sig),
           |pairs AS (
           |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           |  FROM bands a JOIN bands b ON a.band_key = b.band_key
           |  WHERE a.doc_id < b.doc_id),
           |v AS (
           |  SELECT p.a_id, p.b_id,
           |    CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist,
           |    CAST(greatest(len(da.text), len(db.text)) AS BIGINT)
           |      AS max_len
           |  FROM pairs p
           |  JOIN documents da ON da.doc_id = p.a_id
           |  JOIN documents db ON db.doc_id = p.b_id)
           |SELECT a_id, b_id, edit_dist, max_len,
           |  CAST((1000000 * (max_len - edit_dist)) // max_len AS BIGINT)
           |    AS sim_ppm
           |FROM v
           |WHERE (1000000 * (max_len - edit_dist)) // max_len >= 900000
           |ORDER BY a_id, b_id""".stripMargin
      }),

    // X57 dedup-threshold Pareto sweep — the curve a dedup run consults
    // BEFORE fixing the similarity cutoff (the q139 verification stage's
    // 0.9 is a choice, not a law): per 0.05-wide similarity bin, candidate
    // pairs in the bin, plus — keyed on each LOSER doc's best similarity
    // (keep-first rule: the larger doc_id of a pair is the one a dedup at
    // that threshold drops) — docs removed, cumulative from the strictest
    // bin down, and the corpus fraction that removal represents in exact
    // ppm. "Cut at 0.90 removes 4.6% of docs" read directly off the
    // result. Similarity is q139's exact character-level fixed point.
    // Scale shape: candidates come from the PERSISTED band index
    // (cachedFold — no corpus re-shingle) and BROADCAST into two narrow
    // text probes (q139's shape); verification cost tracks DUPLICATE
    // DENSITY; the ~20-row bin table is MATERIALIZED (q142's precedent)
    // so the cumulative windows provably never see doc-sized input.
    Q("q145_dedup_threshold_sweep",
      (s, d) => {
        val sims = editSims(s, d)
          .withColumn("bin", expr("sim_ppm DIV 50000L"))
        val pairBins = sims.groupBy("bin")
          .agg(count(lit(1)).as("n_pairs"))
        val loserBins = sims.groupBy("b_id")
          .agg(max("sim_ppm").as("best"))
          .withColumn("bin", expr("best DIV 50000L"))
          .groupBy("bin").agg(count(lit(1)).as("n_docs"))
        val nTot = documents(s, d).agg(count(lit(1)).as("n_corpus"))
        val bins = pairBins.join(loserBins, Seq("bin"), "full_outer")
          .select(col("bin"),
            coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
            coalesce(col("n_docs"), lit(0L)).as("n_docs"))
          .transform(Materialize.cut)
        val wCum = Window.orderBy(col("bin").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        bins
          .withColumn("thr_ppm", (col("bin") * 50000L).cast("long"))
          .withColumn("cum_pairs", sum("n_pairs").over(wCum))
          .withColumn("cum_docs_removed", sum("n_docs").over(wCum))
          .crossJoin(broadcast(nTot))
          .withColumn("removed_ppm",
            expr("(1000000L * cum_docs_removed) DIV n_corpus"))
          .select("thr_ppm", "n_pairs", "n_docs", "cum_pairs",
            "cum_docs_removed", "removed_ppm")
          .orderBy("thr_ppm")
      },
      Some {
        def h(i: Int): String = minhashSqlExpr(
          MinhashAB(i)._1, MinhashAB(i)._2)
        s"""WITH t AS (SELECT doc_id, $shinglesSql AS ws FROM documents),
           |th AS (SELECT doc_id, $tokenHashesSql AS hs FROM t),
           |sig AS (SELECT doc_id, ${h(0)} AS h0, ${h(1)} AS h1,
           |               ${h(2)} AS h2, ${h(3)} AS h3 FROM th),
           |bands AS (
           |  SELECT doc_id, ('b0-' || h0 || '-' || h1) AS band_key FROM sig
           |  UNION ALL
           |  SELECT doc_id, ('b1-' || h2 || '-' || h3) AS band_key FROM sig),
           |pairs AS (
           |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           |  FROM bands a JOIN bands b ON a.band_key = b.band_key
           |  WHERE a.doc_id < b.doc_id),
           |sv AS (
           |  SELECT p.a_id, p.b_id,
           |    (1000000 * (greatest(len(da.text), len(db.text)) -
           |       levenshtein(da.text, db.text))) //
           |      greatest(len(da.text), len(db.text)) AS sim_ppm
           |  FROM pairs p
           |  JOIN documents da ON da.doc_id = p.a_id
           |  JOIN documents db ON db.doc_id = p.b_id),
           |pb AS (SELECT sim_ppm // 50000 AS bin,
           |         CAST(count(*) AS BIGINT) AS n_pairs
           |       FROM sv GROUP BY 1),
           |lb AS (SELECT best // 50000 AS bin,
           |         CAST(count(*) AS BIGINT) AS n_docs
           |       FROM (SELECT b_id, max(sim_ppm) AS best
           |             FROM sv GROUP BY 1) GROUP BY 1),
           |nb AS (SELECT coalesce(pb.bin, lb.bin) AS bin,
           |         CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs,
           |         CAST(coalesce(n_docs, 0) AS BIGINT) AS n_docs
           |       FROM pb FULL JOIN lb ON pb.bin = lb.bin),
           |c AS (SELECT bin, n_pairs, n_docs,
           |    CAST(sum(n_pairs) OVER (ORDER BY bin DESC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |      AS BIGINT) AS cum_pairs,
           |    CAST(sum(n_docs) OVER (ORDER BY bin DESC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |      AS BIGINT) AS cum_docs
           |  FROM nb),
           |n AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus
           |      FROM documents)
           |SELECT CAST(bin * 50000 AS BIGINT) AS thr_ppm, n_pairs, n_docs,
           |  cum_pairs, cum_docs AS cum_docs_removed,
           |  CAST((1000000 * cum_docs) // n_corpus AS BIGINT)
           |    AS removed_ppm
           |FROM c CROSS JOIN n ORDER BY thr_ppm""".stripMargin
      }),

    // X58 cross-source shingle-overlap matrix — the contamination /
    // redundancy audit BETWEEN corpus sources (which crawls duplicate
    // which, which curated set is already inside the web dump): for every
    // source pair, the EXACT count of shared distinct 3-word shingles and
    // the exact Jaccard in ppm fixed point. The pairwise-sources member of
    // the dedup family: q122 sketches audience overlap (KMV, approximate,
    // events); this is exact, content-granular, and the deliverable is the
    // sources×sources matrix a mixing decision (q137) consults.
    // Scale shape — nothing doc-pairwise, nothing source-pairwise over
    // docs: one corpus shingle pass (q47's posexplode+lead window, per-doc
    // partitions), ONE corpus-sized exchange to distinct (source, hash),
    // then per-shingle source sets via collect_set BOUNDED by the source
    // catalog (20 here; dataset catalogs are human-curated cardinality),
    // pair expansion as a map-side double explode of those bounded arrays
    // (≤ C(|sources|,2) rows per shingle), and a sources²-sized rollup.
    // Sizes broadcast back. At 100 TB the only heavy stages are the scan
    // and the (source, hash) distinct — both embarrassingly parallel.
    Q("q146_source_overlap",
      (s, d) => {
        // ONE corpus pipeline feeds everything: the pair expansion keeps
        // the DIAGONAL (src_a = src_b), whose count per source is exactly
        // that source's distinct-shingle total — so intersection counts
        // AND set sizes come out of a single sources²-bounded aggregate,
        // cut once (the production write of the overlap matrix); the
        // declared plan carries no file scan at all.
        // 3-shingles built MAP-SIDE (slice-transform, the q87 idiom; the
        // lead-window form paid an exchange+sort of the exploded token
        // stream — guide §2.4); identical shingle set
        val mat = fanOut(documents(s, d))
          .select(col("source"), split(col("text"), " ").as("t"))
          .filter(size(col("t")) >= 3)
          .select(col("source"), explode(Scalars.kgrams("t", 3)).as("sh"))
          .select(col("source"),
            (Scalars.tokenHash(col("sh")) % P).as("h"))
          .distinct()
          .groupBy("h").agg(sort_array(collect_set(col("source"))).as("ss"))
          .select(explode(col("ss")).as("src_a"), col("ss"))
          .select(col("src_a"), explode(col("ss")).as("src_b"))
          .filter(col("src_a") <= col("src_b"))
          .groupBy("src_a", "src_b").agg(count(lit(1)).as("cnt"))
          .transform(Materialize.cut)
        val sz = mat.filter(col("src_a") === col("src_b"))
        mat.filter(col("src_a") < col("src_b"))
          .withColumnRenamed("cnt", "inter")
          .join(broadcast(sz.select(col("src_a"),
            col("cnt").as("sz_a"))), Seq("src_a"))
          .join(broadcast(sz.select(col("src_b"),
            col("cnt").as("sz_b"))), Seq("src_b"))
          .withColumn("uni", col("sz_a") + col("sz_b") - col("inter"))
          .withColumn("jac_ppm", expr("(1000000L * inter) DIV uni"))
          .select("src_a", "src_b", "inter", "uni", "jac_ppm")
          .orderBy("src_a", "src_b")
      },
      Some(s"""WITH t AS (SELECT source, $shinglesSql AS ws
             |           FROM documents),
             |th AS (SELECT source, unnest($tokenHashesSql) AS h FROM t),
             |sh AS (SELECT DISTINCT source, h FROM th),
             |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n
             |       FROM sh GROUP BY 1),
             |i AS (SELECT a.source AS src_a, b.source AS src_b,
             |        CAST(count(*) AS BIGINT) AS inter
             |      FROM sh a JOIN sh b
             |        ON a.h = b.h AND a.source < b.source
             |      GROUP BY 1, 2)
             |SELECT src_a, src_b, inter,
             |  CAST(za.n + zb.n - inter AS BIGINT) AS uni,
             |  CAST((1000000 * inter) // (za.n + zb.n - inter) AS BIGINT)
             |    AS jac_ppm
             |FROM i
             |JOIN sz za ON za.source = i.src_a
             |JOIN sz zb ON zb.source = i.src_b
             |ORDER BY src_a, src_b""".stripMargin)),

    // X60 containment verification — the ASYMMETRIC member of the
    // two-stage fuzzy-dedup family (Broder 1997 distinguishes resemblance
    // from CONTAINMENT): Jaccard and edit-similarity (q139) both miss the
    // doc-inside-doc case (a page quoting another wholesale, a chunk
    // re-crawled inside a larger aggregation — union dominates the ratio),
    // so each band candidate pair is verified by exact shingle containment
    // of the SMALLER set: cont_ppm = 1e6·|S(A)∩S(B)| DIV min(|S(A)|,|S(B)|)
    // — 1e6 exactly when one doc's shingles all occur in the other,
    // regardless of how much bigger the other is. Exact integer fixed
    // point; a verdict column applies the 0.9 cutoff without dropping the
    // audit rows.
    // Scale shape: candidates come from the PERSISTED band index
    // (DedupPipeline.cachedFold — no corpus re-shingle for the pair list)
    // and are BROADCAST; shingle sets are built ONLY for docs appearing in
    // a candidate pair (broadcast semi-join prunes the corpus scan to
    // duplicate-density rows before the explode), so the intersection
    // equi-join on (doc, hash) carries candidate-doc shingles, never
    // corpus shingles. At 100 TB every post-scan stage tracks duplicate
    // density — the production verification cost model (q139's, with the
    // shingle pass replacing the O(len²) edit distance).
    Q("q147_containment_verify",
      (s, d) => {
        // Verification per DISTINCT CONTENT, not per doc (editSims'
        // copy-invariance discipline): shingle sets are built for one
        // representative per content appearing in a candidate pair, the
        // set intersection runs once per distinct UNEQUAL content pair,
        // equal-content pairs short-circuit to full containment, and
        // the verdict fans back out through the (doc → content) tags.
        // r17 (guide §1.2/§2.4): sha2 over the full text used to be
        // recomputed on THREE separate single-task scans (the doc→content
        // tag for each pair side plus the representative pass) — one
        // fanned-out narrow (doc_id, ch) projection computes it in
        // parallel. Representative-per-content = min(doc_id), an
        // aggregate instead of the rn=1 window (same doc: ties are exact
        // duplicates of the text anyway); its text is fetched by ONE
        // broadcast join against the corpus scan.
        val ids = fanOutOver(documents(s, d))
          .select(col("doc_id"), sha2(col("text"), 256).as("ch"))
        val pairs = bandPairsFrom(
          graft.pipelines.DedupPipeline.cachedFold(s, d).bands)
        val withA = ids
          .select(col("doc_id").as("a_id"), col("ch").as("ca"))
          .join(broadcast(pairs), Seq("a_id"))
        val ab = ids
          .select(col("doc_id").as("b_id"), col("ch").as("cb"))
          .join(broadcast(withA), Seq("b_id"))
        val pcs = ab.select(col("ca").as("ch"))
          .union(ab.select(col("cb"))).distinct()
        val repIds = ids.join(broadcast(pcs), Seq("ch"))
          .groupBy("ch").agg(min("doc_id").as("doc_id"))
        // 3-shingles MAP-SIDE over the representatives (the q87
        // slice-transform idiom; drops the content-partitioned lead
        // window's exchange+sort — guide §2.4); identical shingle set
        val sh = fanOut(documents(s, d)
          .join(broadcast(repIds), Seq("doc_id"))
          .select(col("ch"), col("text")))
          .select(col("ch"), split(col("text"), " ").as("t"))
          .filter(size(col("t")) >= 3)
          .select(col("ch"), explode(Scalars.kgrams("t", 3)).as("sh"))
          .select(col("ch"),
            (Scalars.tokenHash(col("sh")) % P).as("h"))
          .distinct()
          .transform(Materialize.cut)
        val sz = sh.groupBy("ch").agg(count(lit(1)).as("n"))
        val cp = ab.filter(col("ca") =!= col("cb"))
          .select("ca", "cb").distinct()
        val inter = sh.select(col("ch").as("ca"), col("h"))
          .join(broadcast(cp), Seq("ca"))
          .join(sh.select(col("ch").as("cb"), col("h")), Seq("cb", "h"))
          .groupBy("ca", "cb").agg(count(lit(1)).as("i"))
        ab
          .join(broadcast(sz.select(col("ch").as("ca"),
            col("n").as("sz_a"))), Seq("ca"))
          .join(broadcast(sz.select(col("ch").as("cb"),
            col("n").as("sz_b"))), Seq("cb"))
          .join(broadcast(inter), Seq("ca", "cb"), "left")
          .withColumn("inter",
            when(col("ca") === col("cb"), col("sz_a"))
              .otherwise(coalesce(col("i"), lit(0L))))
          .withColumn("cont_ppm",
            expr("(1000000L * inter) DIV least(sz_a, sz_b)"))
          .withColumn("is_dup", (col("cont_ppm") >= 900000L).cast("int"))
          .select("a_id", "b_id", "inter", "sz_a", "sz_b", "cont_ppm",
            "is_dup")
          .orderBy("a_id", "b_id")
      },
      Some {
        def h(i: Int): String = minhashSqlExpr(
          MinhashAB(i)._1, MinhashAB(i)._2)
        s"""WITH t AS (SELECT doc_id, $shinglesSql AS ws FROM documents),
           |th AS (SELECT doc_id, $tokenHashesSql AS hs FROM t),
           |sig AS (SELECT doc_id, ${h(0)} AS h0, ${h(1)} AS h1,
           |               ${h(2)} AS h2, ${h(3)} AS h3 FROM th),
           |bands AS (
           |  SELECT doc_id, ('b0-' || h0 || '-' || h1) AS band_key FROM sig
           |  UNION ALL
           |  SELECT doc_id, ('b1-' || h2 || '-' || h3) AS band_key FROM sig),
           |pairs AS (
           |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           |  FROM bands a JOIN bands b ON a.band_key = b.band_key
           |  WHERE a.doc_id < b.doc_id),
           |shu AS (SELECT doc_id, unnest(hs) AS h FROM th),
           |shd AS (SELECT DISTINCT doc_id, h FROM shu),
           |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
           |       FROM shd GROUP BY 1),
           |i AS (
           |  SELECT p.a_id, p.b_id, CAST(count(*) AS BIGINT) AS inter
           |  FROM pairs p
           |  JOIN shd a ON a.doc_id = p.a_id
           |  JOIN shd b ON b.doc_id = p.b_id AND b.h = a.h
           |  GROUP BY 1, 2)
           |SELECT p.a_id, p.b_id,
           |  CAST(coalesce(i.inter, 0) AS BIGINT) AS inter,
           |  za.n AS sz_a, zb.n AS sz_b,
           |  CAST((1000000 * coalesce(i.inter, 0)) // least(za.n, zb.n)
           |    AS BIGINT) AS cont_ppm,
           |  CAST(CASE WHEN (1000000 * coalesce(i.inter, 0))
           |    // least(za.n, zb.n) >= 900000 THEN 1 ELSE 0 END AS INT)
           |    AS is_dup
           |FROM pairs p
           |LEFT JOIN i ON i.a_id = p.a_id AND i.b_id = p.b_id
           |JOIN sz za ON za.doc_id = p.a_id
           |JOIN sz zb ON zb.doc_id = p.b_id
           |ORDER BY p.a_id, p.b_id""".stripMargin
      }),

    // X61 winnowing fingerprints (Schleimer et al. 2003, the MOSS
    // algorithm) — the GUARANTEE-bearing local fingerprinting scheme the
    // coarse family (q46 global min-hash fingerprints, q97 fixed 16-token
    // spans, q127/q129 chunk fingerprints) lacks: from each window of
    // w=4 consecutive 3-gram rolling hashes keep the minimum (rightmost
    // on ties — the paper's density rule), which PROVABLY fingerprints
    // every shared substring of ≥ w+k−1 = 6 tokens while storing ~2/(w+1)
    // of positions. Docs sharing ≥2 selected fingerprints are local-
    // overlap candidates. The rightmost-min selection is made relational
    // (and cross-engine exact) by packing (hash, position) into ONE
    // BIGINT: key = h·2^20 + (2^20−1−pos) — min(key) over the w-row frame
    // is min hash THEN max position, and the selected hash is key DIV
    // 2^20. (pos < 2^20: a 100 TB corpus chunks docs long before 1M
    // tokens — q127.)
    // Scale shape: one corpus scan; per-doc windows (frame of 4, doc-
    // partitioned — never corpus-wide); fingerprints are 8-byte longs, so
    // the only corpus-sized exchange carries (doc_id, fp). The pair stage
    // applies MOSS's own boilerplate rule BEFORE joining: a window count
    // over fp keeps only fingerprints shared by 2..8 docs (df=1 can't
    // pair; df>8 is boilerplate someone should read, not O(df²) pairs to
    // emit), so the self-join input is duplicate-density-sized, never
    // corpus-sized.
    Q("q149_winnow_fingerprints",
      (s, d) => {
        val wf = Window.partitionBy("doc_id").orderBy("pos")
          .rowsBetween(Window.currentRow, 3)
        val wfp = Window.partitionBy("fp")
        // k-grams MAP-SIDE (slice-transform + posexplode; the index IS
        // the gram position) and max_pos derived as size(t) - 3 before
        // the explode — drops the lead-window pass AND the per-doc
        // max window; only the winnow min window (wf) still needs the
        // doc-ordered sort. Identical fingerprint set.
        val fps = fanOut(documents(s, d))
          .select(col("doc_id"), split(col("text"), " ").as("t"))
          .filter(size(col("t")) >= 3)
          .select(col("doc_id"), (size(col("t")) - 3).as("max_pos"),
            posexplode(Scalars.kgrams("t", 3))
              .as(Seq("pos", "sh")))
          .select(col("doc_id"), col("pos"), col("max_pos"),
            (Scalars.tokenHash(col("sh")) % P).as("h"))
          .withColumn("min_key",
            min(col("h") * 1048576L + (lit(1048575L) - col("pos")))
              .over(wf))
          .filter(col("pos") <= col("max_pos") - 3)
          .select(col("doc_id"), expr("min_key DIV 1048576L").as("fp"))
          .distinct()
        val shared = fps
          .withColumn("df", count(lit(1)).over(wfp))
          .filter(col("df") >= 2 && col("df") <= 8)
          .select("doc_id", "fp")
        // no cut here: as in q174, both sides of this fp-keyed self-join
        // stay shuffle exchanges, where reuse fires
        shared.select(col("doc_id").as("a_id"), col("fp"))
          .join(shared.select(col("doc_id").as("b_id"), col("fp")),
            Seq("fp"))
          .filter(col("a_id") < col("b_id"))
          .groupBy("a_id", "b_id").agg(count(lit(1)).as("shared_fps"))
          .filter(col("shared_fps") >= 2)
          .orderBy("a_id", "b_id")
      },
      Some(s"""WITH t AS (
             |  SELECT doc_id, str_split(text, ' ') AS toks
             |  FROM documents),
             |kg AS (
             |  SELECT doc_id, i - 1 AS pos,
             |    (('0x' || substr(md5(toks[i] || ' ' || toks[i+1] || ' '
             |       || toks[i+2]), 1, 15))::BIGINT % $P) AS h
             |  FROM t, unnest(range(1, len(toks) - 1)) AS u(i)
             |  WHERE len(toks) >= 3),
             |keyed AS (
             |  SELECT doc_id, pos,
             |    max(pos) OVER (PARTITION BY doc_id) AS max_pos,
             |    min(h * 1048576 + (1048575 - pos)) OVER (
             |      PARTITION BY doc_id ORDER BY pos
             |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS min_key
             |  FROM kg),
             |fps AS (
             |  SELECT DISTINCT doc_id, min_key // 1048576 AS fp
             |  FROM keyed WHERE pos <= max_pos - 3),
             |keep AS (
             |  SELECT fp FROM fps GROUP BY fp
             |  HAVING count(*) BETWEEN 2 AND 8),
             |p AS (
             |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             |    CAST(count(*) AS BIGINT) AS shared_fps
             |  FROM fps a
             |  JOIN keep k ON k.fp = a.fp
             |  JOIN fps b ON b.fp = a.fp AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |SELECT a_id, b_id, shared_fps FROM p
             |WHERE shared_fps >= 2 ORDER BY a_id, b_id""".stripMargin)),

    // X64 per-source content novelty — the per-source scalar the q146
    // overlap MATRIX implies (and the number a mixing decision actually
    // plugs in): what fraction of a source's distinct 3-shingles occurs
    // in NO other source (exact ppm)? High novelty = the source
    // contributes content nothing else covers; low = it's redundant with
    // the rest of the mix and its q137 weight is buying duplicates.
    // Scale shape — q146's pipeline with a spread count instead of pair
    // expansion: one corpus shingle pass (per-doc windows), then ONE
    // corpus-sized exchange on the shingle hash; the (source, h) dedup
    // aggregates IN PLACE on that partitioning (hash(h) clusters every
    // (h, source) pair), the per-hash source-spread is a count window
    // over h on the SAME partitioning (sort only, no exchange, no join,
    // groups bounded by the source catalog), and the rollup is
    // sources-many groups. The corpus is shingled exactly once.
    Q("q152_source_novelty",
      (s, d) => {
        // 3-shingles MAP-SIDE (the q87 slice-transform idiom; the lead
        // window paid an exchange+sort of the token stream — guide §2.4)
        val sh = fanOut(documents(s, d))
          .select(col("source"), split(col("text"), " ").as("t"))
          .filter(size(col("t")) >= 3)
          .select(col("source"), explode(Scalars.kgrams("t", 3)).as("sh"))
          .select(col("source"),
            (Scalars.tokenHash(col("sh")) % P).as("h"))
          .repartition(col("h"))
          .dropDuplicates("source", "h")
        sh.withColumn("nsrc",
            count(lit(1)).over(Window.partitionBy("h")))
          .groupBy("source")
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("nsrc") === 1, 1L).otherwise(0L)).as("n_unique"))
          .withColumn("novelty_ppm",
            expr("(1000000L * n_unique) DIV n_shingles"))
          .select("source", "n_shingles", "n_unique", "novelty_ppm")
          .orderBy("source")
      },
      Some(s"""WITH t AS (SELECT source, $shinglesSql AS ws
             |           FROM documents),
             |th AS (SELECT source, unnest($tokenHashesSql) AS h FROM t),
             |sh AS (SELECT DISTINCT source, h FROM th),
             |sp AS (SELECT h, CAST(count(*) AS BIGINT) AS nsrc
             |       FROM sh GROUP BY 1)
             |SELECT source,
             |  CAST(count(*) AS BIGINT) AS n_shingles,
             |  CAST(sum(CASE WHEN nsrc = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_unique,
             |  CAST((1000000 * sum(CASE WHEN nsrc = 1 THEN 1 ELSE 0 END))
             |    // count(*) AS BIGINT) AS novelty_ppm
             |FROM sh JOIN sp USING (h)
             |GROUP BY source ORDER BY source""".stripMargin)),

    // X62 boilerplate n-gram miner — the REPORT behind every line/span
    // removal rule (C4 dropped repeated lines, CCNet hashes paragraphs;
    // both decisions start from "what text recurs across documents?"):
    // the top-20 5-gram spans by occurrence count over DISTINCT CONTENT
    // among those appearing in ≥3 distinct CONTENTS, with that content
    // frequency and the span text — the list a curator reads before
    // writing a removal pattern (navigation chrome, license headers,
    // templated footers). Frequency over contents, not doc_ids: exact
    // copies carry zero evidence that a span is boilerplate (it recurs
    // because the DOCUMENT recurs), and a replicated corpus would
    // otherwise promote every gram past any threshold.
    // Scale shape: contract to one representative per sha2(text) — a
    // 32-byte-key dropDuplicates, the ONLY full-text shuffle — then one
    // scan + stride-1 5-gram explode (per-doc lead windows — the q130
    // machinery); all aggregation keys on the 8-byte token hash, never
    // the span text (the text rides along as a min() measure through
    // map-side partial aggs — one string per hash per partition, not
    // per occurrence); content frequency is a two-phase
    // (hash, rep-doc)-distinct count; the report reduces via
    // TakeOrderedAndProject (per-partition top-k + K-row driver merge,
    // never a global sort). Hash collisions merge gram groups
    // identically in both engines (same md5-derived hash), so the
    // result stays cross-engine exact.
    Q("q150_boilerplate_ngrams",
      (s, d) => {
        // COPY-INVARIANT since round 12 (q139/q145/q147 precedent): the
        // whole mining pass runs over DISTINCT CONTENT — one arbitrary
        // representative per sha2(text) — so verbatim replication (the
        // sf1 generator's 10× copies; mirrored shards in a real corpus)
        // cannot inflate n_occ or satisfy the df ≥ 3 gate by itself.
        // Which representative wins is invisible: copies have identical
        // text, hence identical grams. BoilerplateInvariantSpec plants
        // copies and pins the report unchanged.
        val distinctDocs = fanOut(documents(s, d))
          .select(col("doc_id"), col("text"),
            sha2(col("text"), 256).as("ck"))
          .dropDuplicates("ck")
        // 5-grams MAP-SIDE (the q87 slice-transform idiom; the lead-chain
        // window paid an exchange+sort of the token stream — guide §2.4)
        val grams = distinctDocs
          .select(col("doc_id"), split(col("text"), " ").as("t"))
          .filter(size(col("t")) >= 5)
          .select(col("doc_id"), explode(Scalars.kgrams("t", 5)).as("gram"))
          .withColumn("g", Scalars.tokenHash(col("gram")) % P)
        // cut: the map-side gram build ends in no exchange, so the two
        // consumers below would each recompute the explode
        val gramsM = grams.transform(Materialize.cut)
        val occ = gramsM.groupBy("g")
          .agg(count(lit(1)).as("n_occ"), min("gram").as("gram"))
        val df = gramsM.select("g", "doc_id").distinct()
          .groupBy("g").agg(count(lit(1)).as("n_contents"))
        occ.join(df, Seq("g"))
          .filter(col("n_contents") >= 3)
          .select("gram", "n_occ", "n_contents")
          .orderBy(col("n_occ").desc, col("gram"))
          .limit(20)
      },
      Some(s"""WITH reps AS (
             |  SELECT min(doc_id) AS doc_id
             |  FROM documents GROUP BY sha256(text)),
             |t AS (
             |  SELECT d.doc_id, str_split(d.text, ' ') AS toks
             |  FROM documents d JOIN reps USING (doc_id)),
             |g AS (
             |  SELECT doc_id,
             |    toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
             |      || toks[i+3] || ' ' || toks[i+4] AS gram
             |  FROM t, unnest(range(1, len(toks) - 3)) AS u(i)
             |  WHERE len(toks) >= 5),
             |h AS (
             |  SELECT doc_id, gram,
             |    (('0x' || substr(md5(gram), 1, 15))::BIGINT % $P) AS hh
             |  FROM g),
             |occ AS (
             |  SELECT hh, CAST(count(*) AS BIGINT) AS n_occ,
             |    min(gram) AS gram
             |  FROM h GROUP BY 1),
             |df AS (
             |  SELECT hh, CAST(count(*) AS BIGINT) AS n_contents
             |  FROM (SELECT DISTINCT hh, doc_id FROM h) GROUP BY 1)
             |SELECT occ.gram, occ.n_occ, df.n_contents
             |FROM occ JOIN df ON df.hh = occ.hh
             |WHERE df.n_contents >= 3
             |ORDER BY occ.n_occ DESC, occ.gram LIMIT 20""".stripMargin)),

    // X68 near-dup keep-policy audit — the A/B evidence behind the "which
    // copy do we keep?" dedup decision (pipelines variously keep the
    // longest, the highest-quality, or an arbitrary-stable member of each
    // duplicate family): for each of three deterministic policies —
    // a_longest (n_chars DESC), b_best_quality (X50 fixed-point score
    // DESC), c_min_id (doc_id ASC), all tie-broken by doc_id — keep one
    // representative per near-dup cluster of the MAINTAINED index and
    // report the retained corpus: kept docs, kept tokens, and mean kept
    // quality (exact integer fixed point). The deltas between rows are
    // exactly what the policy buys (e.g. b vs c = the quality uplift of
    // quality-aware keeping at identical doc count).
    // Scale shape: labels come from the PERSISTED dedup index
    // (DedupPipeline.cachedFold — the q115/q128/q135 maintained-artifact
    // contract, no closure rebuild); the doc features + labels join are
    // cut once (the production write of the labeled table) and each
    // policy is then ONE partial+final agg per
    // cluster using max(struct(...)) — the argmax-by-ordered-tuple form:
    // associative, map-side combinable, no per-cluster window, no
    // pairwise anything. Three cluster-sized aggs + a 3-row union.
    Q("q158_keep_policy",
      (s, d) => {
        val labels = graft.pipelines.DedupPipeline.cachedFold(s, d).labels
        val docs = documents(s, d).select(col("doc_id"), col("n_chars"),
          size(split(col("text"), " ")).cast("long").as("ntok"),
          floor(lit(1e6) *
            (least(size(split(col("text"), " ")).cast("double") / 100.0,
              lit(1.0)) * 0.5 +
             length(regexp_replace(col("text"), "[^a-z]", ""))
               .cast("double") / length(col("text")) * 0.5)).as("q_fp"))
        val labeled = docs
          .join(labels.select(col("v").as("doc_id"), col("component")),
            Seq("doc_id"), "left")
          .withColumn("cluster", coalesce(col("component"), col("doc_id")))
          .transform(Materialize.cut)
        def pick(policy: String, o1: Column, o2: Column) =
          labeled.groupBy("cluster")
            .agg(max(struct(o1.as("o1"), o2.as("o2"),
              col("q_fp").as("q_fp"), col("ntok").as("ntok"))).as("w"))
            .agg(count(lit(1)).as("kept_docs"),
              sum(col("w.ntok")).as("kept_tok"),
              sum(col("w.q_fp")).as("sum_q"))
            .select(lit(policy).as("policy"), col("kept_docs"),
              col("kept_tok"), expr("sum_q DIV kept_docs").as("mean_q_fp"))
        pick("a_longest", col("n_chars"), -col("doc_id"))
          .unionAll(pick("b_best_quality", col("q_fp"), -col("doc_id")))
          .unionAll(pick("c_min_id", -col("doc_id"), lit(0L)))
          .orderBy("policy")
      },
      Some {
        val qFp = "CAST(floor(1e6 * (" +
          "least(CAST(len(str_split(text, ' ')) AS DOUBLE) / 100.0, 1.0)" +
          " * 0.5 + (CAST(length(regexp_replace(text, '[^a-z]', '', 'g'))" +
          " AS DOUBLE) / length(text)) * 0.5)) AS BIGINT)"
        s"""WITH RECURSIVE
           |$closureSqlCtes,
           |docs AS (
           |  SELECT doc_id, n_chars,
           |    CAST(len(str_split(text, ' ')) AS BIGINT) AS ntok,
           |    $qFp AS q_fp
           |  FROM documents),
           |lab AS (
           |  SELECT d.doc_id, d.n_chars, d.ntok, d.q_fp,
           |    coalesce(c.component, d.doc_id) AS cluster
           |  FROM docs d LEFT JOIN comp c ON c.v = d.doc_id),
           |k1 AS (SELECT cluster, q_fp, ntok, row_number() OVER (
           |    PARTITION BY cluster ORDER BY n_chars DESC, doc_id ASC)
           |    AS rn FROM lab),
           |k2 AS (SELECT cluster, q_fp, ntok, row_number() OVER (
           |    PARTITION BY cluster ORDER BY q_fp DESC, doc_id ASC)
           |    AS rn FROM lab),
           |k3 AS (SELECT cluster, q_fp, ntok, row_number() OVER (
           |    PARTITION BY cluster ORDER BY doc_id ASC) AS rn FROM lab),
           |p1 AS (SELECT 'a_longest' AS policy,
           |    CAST(count(*) AS BIGINT) AS kept_docs,
           |    CAST(sum(ntok) AS BIGINT) AS kept_tok,
           |    CAST(sum(q_fp) // count(*) AS BIGINT) AS mean_q_fp
           |  FROM k1 WHERE rn = 1),
           |p2 AS (SELECT 'b_best_quality', CAST(count(*) AS BIGINT),
           |    CAST(sum(ntok) AS BIGINT),
           |    CAST(sum(q_fp) // count(*) AS BIGINT)
           |  FROM k2 WHERE rn = 1),
           |p3 AS (SELECT 'c_min_id', CAST(count(*) AS BIGINT),
           |    CAST(sum(ntok) AS BIGINT),
           |    CAST(sum(q_fp) // count(*) AS BIGINT)
           |  FROM k3 WHERE rn = 1)
           |SELECT * FROM p1 UNION ALL SELECT * FROM p2
           |UNION ALL SELECT * FROM p3 ORDER BY policy""".stripMargin
      }),

    // X75 EXACT set-similarity self-join via prefix filtering (SSJoin,
    // Chaudhuri et al. 2006; All-Pairs, Bayardo et al. 2007) — the
    // exact complement of the probabilistic LSH band path (X2b): every
    // pair of distinct texts with 3-shingle-set Jaccard ≥ 0.6, with NO
    // false negatives (the prefix-filter theorem: under any global
    // token order, two sets with J ≥ τ must share a token among each
    // side's first |x| − ⌈τ·|x|⌉ + 1 tokens) and no false positives
    // (exact intersection verify on candidates). LSH trades recall for
    // speed; this is the audit/ground-truth tier run on samples or on
    // blocked subsets. All integer: the threshold test is the
    // ppm-floored Jaccard (equivalent to 5·I ≥ 3·(na+nb−I)).
    // Scale shape: contract to DISTINCT CONTENT first (text rides one
    // h-keyed partial agg as a min() measure — the q150 rule); the
    // candidate join is over PREFIX postings ordered rarest-first
    // (df asc — the order minimizing candidate count), never all-pairs;
    // the per-doc rank window is doc-sized; verification joins full
    // shingle arrays only for candidate ids.
    Q("q174_setsim_prefix",
      (s, d) => {
        val base = documents(s, d)
          .select(sha2(col("text"), 256).as("hk"), col("doc_id"),
            col("text"))
          .groupBy("hk")
          .agg(min("doc_id").as("id"), min("text").as("text"))
        val sets = fanOut(base)
          .select(col("id"),
            Scalars.shingles3Text(col("text")).as("sh"))
          .transform(Materialize.cut)
        val post = sets.select(col("id"), size(col("sh")).as("n"),
          explode(col("sh")).as("tok"))
        val dfreq = post.groupBy("tok").agg(count(lit(1)).as("dfreq"))
        val w = Window.partitionBy("id").orderBy(col("dfreq"), col("tok"))
        val pref = post.join(dfreq, "tok")
          .withColumn("rn", row_number().over(w))
          .filter(expr("rn <= n - (3 * n + 4) DIV 5 + 1"))
          .select("id", "tok", "rn", "n")
        // no cut here: both sides of this self-join stay shuffle
        // exchanges, where reuse fires (contrast bandPairs)
        // PPJoin candidate pruning (Xiao et al. 2008) on top of the
        // prefix join: the LENGTH filter (J ≥ 0.6 forces
        // 5·min(na,nb) ≥ 3·max(na,nb)) and the POSITIONAL filter (the
        // overlap still reachable past match positions (i, j) is
        // 1 + min(na−i, nb−j), which must reach the equivalent-overlap
        // threshold α = ⌈3(na+nb)/8⌉). Measured at sf0.1: 299k → 69k
        // candidates for the same 25-pair result.
        val cand = pref.as("a").join(pref.as("b"),
            col("a.tok") === col("b.tok") && col("a.id") < col("b.id") &&
              expr("5 * least(a.n, b.n) >= 3 * greatest(a.n, b.n)") &&
              expr("1 + least(a.n - a.rn, b.n - b.rn) >= " +
                "(3 * (a.n + b.n) + 7) DIV 8"))
          .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
          .distinct()
        cand
          .join(sets.select(col("id").as("a_id"), col("sh").as("sa")),
            "a_id")
          .join(sets.select(col("id").as("b_id"), col("sh").as("sb")),
            "b_id")
          .select(col("a_id"), col("b_id"),
            size(array_intersect(col("sa"), col("sb"))).cast("long")
              .as("i"),
            size(col("sa")).cast("long").as("na"),
            size(col("sb")).cast("long").as("nb"))
          .withColumn("jacc_ppm", expr("(1000000 * i) DIV (na + nb - i)"))
          .filter(col("jacc_ppm") >= 600000)
          .select("a_id", "b_id", "jacc_ppm")
          .orderBy("a_id", "b_id")
      },
      Some(s"""WITH dt AS (
              |  SELECT min(doc_id) AS id, text FROM documents
              |  GROUP BY text),
              |sets AS (SELECT id, $shinglesSql AS sh FROM dt),
              |post AS (SELECT id, unnest(sh) AS tok FROM sets),
              |dfreq AS (SELECT tok, count(*) AS dfreq FROM post
              |  GROUP BY tok),
              |rk AS (
              |  SELECT post.id, post.tok, row_number() OVER (
              |    PARTITION BY post.id ORDER BY dfreq.dfreq, post.tok)
              |    AS rn
              |  FROM post JOIN dfreq USING (tok)),
              |sz AS (SELECT id, len(sh) AS n FROM sets),
              |pref AS (
              |  SELECT rk.id, rk.tok, rk.rn, sz.n FROM rk JOIN sz USING (id)
              |  WHERE rn <= n - (3 * n + 4) // 5 + 1),
              |cand AS (
              |  SELECT DISTINCT a.id AS a_id, b.id AS b_id
              |  FROM pref a JOIN pref b
              |    ON a.tok = b.tok AND a.id < b.id
              |    AND 5 * least(a.n, b.n) >= 3 * greatest(a.n, b.n)
              |    AND 1 + least(a.n - a.rn, b.n - b.rn)
              |      >= (3 * (a.n + b.n) + 7) // 8),
              |v AS (
              |  SELECT a_id, b_id,
              |    CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS i,
              |    CAST(len(sa.sh) AS BIGINT) AS na,
              |    CAST(len(sb.sh) AS BIGINT) AS nb
              |  FROM cand
              |  JOIN sets sa ON sa.id = cand.a_id
              |  JOIN sets sb ON sb.id = cand.b_id)
              |SELECT a_id, b_id,
              |  CAST((1000000 * i) // (na + nb - i) AS BIGINT) AS jacc_ppm
              |FROM v WHERE (1000000 * i) // (na + nb - i) >= 600000
              |ORDER BY a_id, b_id""".stripMargin)),

    // X83 content-defined chunking (CDC — the Rabin/LBFS/rsync boundary
    // technique): chunk boundaries fall where a rolling hash of the last
    // 4 token-hashes ≡ 0 (mod 16), so INSERTIONS shift chunk contents
    // only locally — shared runs between near-copies re-align at the
    // next content-defined boundary and hash identically, which fixed-
    // size chunking (F12/q33) structurally cannot do. The span-level
    // complement of X19's exact 50-token windows: CDC finds shared
    // SPANS between docs whose edits shift offsets. Per source: chunk
    // count, distinct chunk fingerprints, dup ppm, mean chunk length.
    // All-integer: token hash mod P (the DuckDB-replayable md5 family),
    // polynomial rolling hash (B=31; max term 31³·1e9 ≈ 3e13 ≪ 2⁶³),
    // fingerprint = tokenHash of the space-joined chunk.
    // Scale shape: tokens explode map-side behind fanOut; the lag and
    // running-boundary-count windows are PER-DOC (bounded state, the
    // q102 class — never a global order); chunks reduce through one
    // (doc, chunk_no) partial+final agg carrying the narrow (pos, tok)
    // structs of ONE chunk each; the rollup is sources-many rows.
    Q("q191_cdc_chunks",
      (s, d) => {
        val wd = Window.partitionBy("doc_id").orderBy("pos")
        val run = Window.partitionBy("doc_id").orderBy("pos")
          .rowsBetween(Window.unboundedPreceding, -1)
        val toks = fanOut(documents(s, d))
          .select(col("source"), col("doc_id"),
            size(split(col("text"), " ")).as("ntok"),
            posexplode(split(col("text"), " ")).as(Seq("pos0", "tok")))
          .select(col("source"), col("doc_id"), col("ntok"),
            (col("pos0") + 1).as("pos"), col("tok"),
            (Scalars.tokenHash(col("tok")) % QueriesText.P).as("th"))
        val bounded = toks
          .withColumn("rh",
            (col("th") +
              lit(31L) * coalesce(lag(col("th"), 1).over(wd), lit(0L)) +
              lit(961L) * coalesce(lag(col("th"), 2).over(wd), lit(0L)) +
              lit(29791L) * coalesce(lag(col("th"), 3).over(wd), lit(0L)))
              % QueriesText.P)
          .withColumn("bnd",
            when(col("rh") % 16 === 0 || col("pos") === col("ntok"), 1L)
              .otherwise(0L))
          .withColumn("chunk_no",
            coalesce(sum(col("bnd")).over(run), lit(0L)))
        val chunks = bounded
          .groupBy("source", "doc_id", "chunk_no")
          .agg(count(lit(1)).as("clen"),
            array_join(transform(
              array_sort(collect_list(struct(col("pos"), col("tok")))),
              x => x.getField("tok")), " ").as("ctext"))
          .select(col("source"), col("clen"),
            Scalars.tokenHash(col("ctext")).as("ch"))
        chunks.groupBy("source")
          .agg(count(lit(1)).as("n_chunks"),
            countDistinct(col("ch")).as("n_distinct"),
            sum(col("clen")).as("n_tokens"))
          .select(col("source"), col("n_chunks"), col("n_distinct"),
            col("n_tokens"),
            expr("(1000000 * (n_chunks - n_distinct)) DIV n_chunks")
              .as("dup_ppm"),
            expr("n_tokens DIV n_chunks").as("mean_len"))
          .orderBy("source")
      },
      Some(s"""WITH toks AS (
              |  SELECT source, doc_id, len(ws) AS ntok, ws[i] AS tok,
              |    CAST(i AS BIGINT) AS pos,
              |    (${QueriesText.tokSql("ws[i]")} % ${QueriesText.P}) AS th
              |  FROM (SELECT source, doc_id, str_split(text, ' ') AS ws
              |        FROM documents),
              |    unnest(range(1, len(ws) + 1)) AS u(i)),
              |r AS (
              |  SELECT *, (th
              |    + 31 * coalesce(lag(th, 1) OVER w, 0)
              |    + 961 * coalesce(lag(th, 2) OVER w, 0)
              |    + 29791 * coalesce(lag(th, 3) OVER w, 0))
              |    % ${QueriesText.P} AS rh
              |  FROM toks
              |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
              |b AS (
              |  SELECT *, CASE WHEN rh % 16 = 0 OR pos = ntok
              |    THEN 1 ELSE 0 END AS bnd FROM r),
              |c AS (
              |  SELECT *, coalesce(sum(bnd) OVER (
              |    PARTITION BY doc_id ORDER BY pos
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              |    AS chunk_no
              |  FROM b),
              |ch AS (
              |  SELECT source, doc_id, chunk_no,
              |    CAST(count(*) AS BIGINT) AS clen,
              |    string_agg(tok, ' ' ORDER BY pos) AS ctext
              |  FROM c GROUP BY 1, 2, 3),
              |agg AS (
              |  SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
              |    CAST(count(DISTINCT ${QueriesText.tokSql("ctext")})
              |      AS BIGINT) AS n_distinct,
              |    CAST(sum(clen) AS BIGINT) AS n_tokens
              |  FROM ch GROUP BY source)
              |SELECT source, n_chunks, n_distinct, n_tokens,
              |  CAST((1000000 * (n_chunks - n_distinct)) // n_chunks
              |    AS BIGINT) AS dup_ppm,
              |  CAST(n_tokens // n_chunks AS BIGINT) AS mean_len
              |FROM agg ORDER BY source""".stripMargin)),

    // X84 canonicalization dedup uplift — the C4/CCNet preprocessing
    // decision quantified: how many MORE duplicates does exact dedup
    // find after canonical normalization (lowercase, strip non-
    // alphanumerics, collapse whitespace) than on raw bytes? Raw-exact
    // dedup (X1/q40) misses case/punctuation variants of the same
    // content — the most common near-dup class in web crawls — and
    // this audit prices that miss per source before choosing the dedup
    // key. Corpus: documents ∪ deterministic case+punctuation variants
    // of doc_id < 100 (upper-cased, '!!'-suffixed — canon maps each
    // variant back to its base because base texts are already
    // [a-z0-9 ]-canonical, which the invariant spec pins), so the
    // uplift is exactly the planted-variant count and BOTH distinct
    // counts are fully DuckDB-replayable — a green hash oracle, unlike
    // the decode-gated construction queries.
    // Scale shape: canon is a map-side projection (codegen regexp);
    // both distinct counts ride ONE partial+final agg per source over
    // 32-byte sha2 keys (text never shuffles); the union is two scans
    // of the same column-pruned table.
    Q("q192_normalized_dedup",
      (s, d) => {
        def canon(c: org.apache.spark.sql.Column) =
          trim(regexp_replace(
            regexp_replace(lower(c), "[^a-z0-9 ]", " "), " +", " "))
        val base = documents(s, d).select(col("source"), col("text"))
        val variants = documents(s, d).filter(col("doc_id") < 100)
          .select(col("source"),
            concat(upper(col("text")), lit(" !!")).as("text"))
        // size-adaptive fanOut on the CORPUS side only, hashing BEFORE
        // the union: two sha2 digests + two full-text regex passes per
        // row otherwise run inside the one scan task (r17 sf1: 2.0 s
        // serial); fanning the unioned TEXT instead shuffled the full
        // corpus text for no win (measured 2.3 s) — hash first, union
        // narrow 64-hex rows. Size-gated because at sf0.1 the exchange
        // cost exceeded the serial map it spread (0.49 -> 0.72 floor).
        def hashed(df: org.apache.spark.sql.DataFrame) = df
          .select(col("source"), sha2(col("text"), 256).as("raw_h"),
            sha2(canon(col("text")), 256).as("canon_h"))
        hashed(fanOutOver(base)).unionByName(hashed(variants))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("raw_h")).as("distinct_raw"),
            countDistinct(col("canon_h")).as("distinct_canon"))
          .select(col("source"), col("n_docs"), col("distinct_raw"),
            col("distinct_canon"),
            expr("(1000000 * (distinct_raw - distinct_canon)) " +
              "DIV distinct_raw").as("uplift_ppm"))
          .orderBy("source")
      },
      Some("""WITH corpus AS (
             |  SELECT source, text FROM documents
             |  UNION ALL
             |  SELECT source, upper(text) || ' !!' AS text
             |  FROM documents WHERE doc_id < 100),
             |h AS (
             |  SELECT source, sha256(text) AS raw_h,
             |    sha256(trim(regexp_replace(regexp_replace(lower(text),
             |      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS canon_h
             |  FROM corpus)
             |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(count(DISTINCT raw_h) AS BIGINT) AS distinct_raw,
             |  CAST(count(DISTINCT canon_h) AS BIGINT) AS distinct_canon,
             |  CAST((1000000 * (count(DISTINCT raw_h)
             |    - count(DISTINCT canon_h))) // count(DISTINCT raw_h)
             |    AS BIGINT) AS uplift_ppm
             |FROM h GROUP BY source ORDER BY source""".stripMargin)),

    // X87 boilerplate strip accounting — X62 (q150) MINES the shared
    // 5-grams; this op prices actually REMOVING them: every token
    // position covered by any boilerplate 5-gram occurrence (df ≥ 3
    // distinct CONTENTS — q150's copy-invariant threshold, round 12:
    // replicated docs can't vote a gram into the boiler set, so the
    // measurement survives a mirrored corpus) is marked, overlapping occurrences
    // counted once, and the per-source report says how many tokens a
    // strip pass would delete and how many docs it touches — the
    // removal-cost audit run before a C4-style cleanup rewrites a
    // 100 TB corpus. All-integer; the gram set is hash-keyed (the
    // md5-family hash both engines replay).
    // Scale shape: grams build map-side behind fanOut with per-doc
    // lead windows (q150's shape); the mined gram set reduces to a
    // boilerplate-vocabulary-sized table that BROADCASTS into the
    // occurrence semi-join (boilerplate vocab is bounded by design —
    // it is the content that repeats verbatim across docs); coverage
    // positions explode 5-wide from occurrences only, dedup through
    // one (doc, pos) distinct, and the rollup is sources-many rows.
    Q("q195_boilerplate_strip",
      (s, d) => {
        // 5-grams built MAP-SIDE (slice-transform + posexplode, the q87
        // idiom; posexplode's 0-based index IS the token position) — the
        // previous lead-window form paid an exchange + sort of the whole
        // exploded token stream (guide §2.4); identical gram set.
        val base = fanOut(documents(s, d))
          .select(col("source"), col("doc_id"),
            split(col("text"), " ").as("t"))
        // cut: the boiler membership ends in a broadcast side, so its
        // two consumers share no exchange and the 5-gram md5 build (the
        // hottest stage) would run twice
        val grams = base
          .filter(size(col("t")) >= 5)
          .select(col("source"), col("doc_id"),
            posexplode(Scalars.kgrams("t", 5))
              .as(Seq("pos", "gm")))
          .select(col("source"), col("doc_id"), col("pos"),
            (Scalars.tokenHash(col("gm")) % QueriesText.P).as("g"))
          .transform(Materialize.cut)
        // boiler membership df-counts DISTINCT CONTENT (round 12, the
        // q150 rule): the (g, doc)-distinct pairs — already narrow —
        // join the doc→sha2 map and dedup to (g, content) before the
        // ≥ 3 gate, so replicated docs can't vote a gram into the
        // boiler set. One extra narrow join + distinct, reusing the
        // single gram build (cheaper than a second gram pass over a
        // contracted corpus when the dup rate is low — the 100 TB
        // common case). The REPORT stays full-corpus on purpose: this
        // op prices removal over the real doc inventory.
        val docCk = documents(s, d)
          .select(col("doc_id"), sha2(col("text"), 256).as("ck"))
        val boiler = grams.select("g", "doc_id").distinct()
          .join(docCk, "doc_id")
          .select("g", "ck").distinct()
          .groupBy("g").agg(count(lit(1)).as("n_contents"))
          .filter(col("n_contents") >= 3)
          .select("g")
        val covered = grams
          .join(broadcast(boiler), "g")
          .select(col("source"), col("doc_id"),
            explode(sequence(col("pos"), col("pos") + 4)).as("cpos"))
          .distinct()
        val perDoc = covered.groupBy("source", "doc_id")
          .agg(count(lit(1)).as("n_removed"))
        // totals need no token explode at all: Σ size(t) per source is the
        // same count the exploded stream produced (guide §2.3: aggregate
        // before you shuffle — the partial agg now ships one row per doc)
        val totals = base.groupBy("source")
          .agg(sum(size(col("t"))).as("n_tokens"),
            countDistinct(col("doc_id")).as("n_docs"))
        totals.join(
            perDoc.groupBy("source")
              .agg(sum("n_removed").as("n_removed"),
                count(lit(1)).as("n_docs_touched")),
            Seq("source"), "left")
          .select(col("source"), col("n_tokens"),
            coalesce(col("n_removed"), lit(0L)).as("n_removed"),
            expr("(1000000 * coalesce(n_removed, 0L)) DIV n_tokens")
              .as("removal_ppm"),
            coalesce(col("n_docs_touched"), lit(0L))
              .as("n_docs_touched"))
          .orderBy("source")
      },
      Some(s"""WITH t AS (
              |  SELECT source, doc_id, str_split(text, ' ') AS toks
              |  FROM documents),
              |tok AS (
              |  SELECT source, doc_id, CAST(i - 1 AS BIGINT) AS pos
              |  FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
              |g AS (
              |  SELECT source, doc_id, CAST(i - 1 AS BIGINT) AS pos,
              |    (('0x' || substr(md5(toks[i] || ' ' || toks[i+1] || ' '
              |      || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]),
              |      1, 15))::BIGINT % ${QueriesText.P}) AS gh
              |  FROM t, unnest(range(1, len(toks) - 3)) AS u(i)
              |  WHERE len(toks) >= 5),
              |dmap AS (
              |  SELECT doc_id, sha256(text) AS ck FROM documents),
              |boiler AS (
              |  SELECT gh FROM (
              |    SELECT DISTINCT gd.gh, dmap.ck
              |    FROM (SELECT DISTINCT gh, doc_id FROM g) gd
              |    JOIN dmap USING (doc_id))
              |  GROUP BY gh HAVING count(*) >= 3),
              |covered AS (
              |  SELECT DISTINCT g.source, g.doc_id, g.pos + o.k AS cpos
              |  FROM g JOIN boiler USING (gh),
              |    unnest(range(0, 5)) AS o(k)),
              |per_doc AS (
              |  SELECT source, doc_id, CAST(count(*) AS BIGINT)
              |    AS n_removed
              |  FROM covered GROUP BY 1, 2),
              |tot AS (
              |  SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
              |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
              |  FROM tok GROUP BY source),
              |rem AS (
              |  SELECT source, CAST(sum(n_removed) AS BIGINT)
              |      AS n_removed,
              |    CAST(count(*) AS BIGINT) AS n_docs_touched
              |  FROM per_doc GROUP BY source)
              |SELECT tot.source, tot.n_tokens,
              |  coalesce(rem.n_removed, 0) AS n_removed,
              |  CAST((1000000 * coalesce(rem.n_removed, 0))
              |    // tot.n_tokens AS BIGINT) AS removal_ppm,
              |  coalesce(rem.n_docs_touched, 0) AS n_docs_touched
              |FROM tot LEFT JOIN rem ON rem.source = tot.source
              |ORDER BY tot.source""".stripMargin)),
  )
}
