package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Materialize, Scalars}

/** Training-data pipeline tier II — SURVEY.md §2.11 extension beyond the
  * first wave (QueriesText): order-sensitive content fingerprints, blocked
  * dedup cluster assignment, corpus n-gram statistics, deterministic
  * hash-based sampling, and length-distribution profiling.
  *
  * Scale notes:
  *  - Rolling hash (q70) folds per-row over the token array — embarrassingly
  *    parallel, no shuffle; the lambda body is three integer ops so the
  *    generated code stays small (the array-lambda pitfall in BASELINE.md
  *    applies to mega-expressions, not this).
  *  - Blocked dedup (q71) is the standard first stage of entity-resolution
  *    at scale: a cheap blocking key bounds the candidate space before any
  *    pairwise work; the only shuffle is on the block key.
  *  - Top-n-grams (q72) is explode → partial+final count → TakeOrdered:
  *    map-side combine keeps the shuffle at distinct-bigram cardinality,
  *    and the top-k never materializes a global sort.
  *  - Hash sampling (q73) replaces rand()-based sampling with a content
  *    hash: reproducible across runs/engines and stable under re-partition,
  *    which rand() sampling is not — the property a 100 TB pipeline needs
  *    for resumable subset builds.
  */
object QueriesPipeline {
  import Tables._

  private val P = Scalars.HashP

  val all: Seq[Q] = Seq(

    // X8b order-sensitive document fingerprint: polynomial rolling hash
    // h = fold(31·h + tokenHash(w) mod P) over the token stream. Unlike
    // q46's sorted-vocab md5, token *order* matters (detects shuffled
    // near-copies). DuckDB replays the fold exactly via list_reduce with a
    // prepended zero seed.
    Q("q70_rolling_hash",
      // fanOut: one md5 per token otherwise runs inside the
      // single-row-group scan task (r17 sf1 measurement: 1.74 s serial)
      (s, d) => fanOut(documents(s, d))
        .select(col("doc_id"),
          transform(split(col("text"), " "),
            w => Scalars.tokenHash(w) % P).as("hs"))
        .select(col("doc_id"),
          aggregate(col("hs"), lit(0L),
            (h, x) => (h * 31L + x) % P).as("rhash"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
              |  CAST(list_reduce(
              |    list_prepend(0, list_transform(str_split(text, ' '),
              |      w -> ('0x' || substr(md5(w), 1, 15))::BIGINT % $P)),
              |    (h, x) -> (h * 31 + x) % $P) AS BIGINT) AS rhash
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // X8b-native: the SAME rolling-hash fingerprint through the native
    // codegen Catalyst expression (ops/RollingHashExpression — the
    // builder-prompt preference ladder made concrete: compose > native
    // Expression > UDF). One fused call walks the text bytes once,
    // digests token bytes directly (the top 60 bits of the raw md5 ARE
    // the first 15 hex digits — no hex-string round trip), and folds in
    // a register; the declarative q70 pays three array materializations
    // + interpreted HOF dispatch + a conv() base-16 parse per token.
    // Bit-identical to q70 by construction (RollingHashExprSpec pins it
    // on real data + split-semantics edges), so both share ONE DuckDB
    // oracle. Measured at sf1: see SCALE.md (the q70 linear lower bound
    // was the md5 count; the native form shaves the interpretation tax).
    Q("q70b_rolling_hash_native",
      // fanOut: same serial-scan argument as q70 (the native expression
      // is ~1.6× faster per row but still one md5 digest per token)
      (s, d) => fanOut(documents(s, d))
        .select(col("doc_id"), Scalars.rollingHash(col("text")).as("rhash"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
              |  CAST(list_reduce(
              |    list_prepend(0, list_transform(str_split(text, ' '),
              |      w -> ('0x' || substr(md5(w), 1, 15))::BIGINT % $P)),
              |    (h, x) -> (h * 31 + x) % $P) AS BIGINT) AS rhash
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // X1b blocked dedup cluster assignment: blocking key (lang, length
    // bucket) → representative = min doc_id per block; emit non-singleton
    // block members with their representative. At 100 TB this bounds the
    // pairwise stage (q48/q50) to within-block candidates.
    Q("q71_block_dedup",
      (s, d) => {
        val w = Window.partitionBy("lang", "bucket")
        documents(s, d)
          .select(col("doc_id"), col("lang"),
            expr("n_chars DIV 100").as("bucket"))
          .withColumn("rep_id", min(col("doc_id")).over(w))
          .withColumn("block_n", count(lit(1)).over(w))
          .filter(col("block_n") > 1)
          .select(col("doc_id"), col("lang"), col("bucket"),
            col("rep_id"), col("block_n"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, bucket, rep_id,
             |       CAST(block_n AS BIGINT) AS block_n
             |FROM (SELECT doc_id, lang, n_chars // 100 AS bucket,
             |        min(doc_id) OVER w AS rep_id,
             |        count(*) OVER w AS block_n
             |      FROM documents
             |      WINDOW w AS (PARTITION BY lang, n_chars // 100))
             |WHERE block_n > 1 ORDER BY doc_id""".stripMargin)),

    // X4b corpus top-k n-grams: relational bigram build (posexplode +
    // window lead, the shingle shape from QueriesText.minhashSigs), then
    // partial+final count and a bounded top-20 with a total tiebreak.
    Q("q72_top_bigrams",
      (s, d) => {
        // bigrams MAP-SIDE (slice-transform, the oracle's own form; the
        // lead window paid an exchange+sort of the exploded token
        // stream — guide §2.4); identical bigram multiset
        fanOut(documents(s, d))
          .select(split(col("text"), " ").as("t"))
          .filter(size(col("t")) >= 2)
          .select(explode(Scalars.kgrams("t", 2)).as("bigram"))
          .groupBy("bigram")
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("bigram").asc)
          .limit(20)
      },
      Some("""WITH t AS (SELECT str_split(text, ' ') AS s FROM documents),
             |b AS (SELECT unnest(list_transform(range(1, len(s)),
             |        i -> s[i] || ' ' || s[i+1])) AS bigram FROM t)
             |SELECT bigram, CAST(count(*) AS BIGINT) AS cnt
             |FROM b GROUP BY bigram
             |ORDER BY cnt DESC, bigram ASC LIMIT 20""".stripMargin)),

    // X10 deterministic hash sampling: ~10% subset keyed on content hash —
    // reproducible across engines and partitionings (rand() is neither).
    Q("q73_hash_sample",
      (s, d) => documents(s, d)
        .filter(Scalars.tokenHash(col("text")) % 100L < 10L)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, lang, n_chars FROM documents
             |WHERE ('0x' || substr(md5(text), 1, 15))::BIGINT % 100 < 10
             |ORDER BY doc_id""".stripMargin)),

    // X4c corpus length profile: fixed-width histogram of document sizes
    // (the data-quality profile every corpus build reports).
    Q("q74_length_histogram",
      (s, d) => documents(s, d)
        .select(expr("n_chars DIV 200").as("bucket"), col("n_chars"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("cnt"),
          min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
        .orderBy("bucket"),
      Some("""SELECT n_chars // 200 AS bucket,
             |  CAST(count(*) AS BIGINT) AS cnt,
             |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
             |FROM documents GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // X19 span-level (paragraph) corpus dedup with document reassembly —
    // the CCNet/RefinedWeb shape: dedup at sub-document granularity so a
    // boilerplate span shared by many documents is dropped everywhere but
    // its first occurrence, while the surrounding unique text survives.
    // This corpus has no newline structure (TESTDATA.md), so "paragraph" =
    // fixed 16-token window, the substring-dedup variant of the same op.
    // Shape: slice spans directly from the token array (explode over span
    // INDEXES only — no per-token explode), keep first occurrence by
    // global (doc_id, span_no) order via rank-1 window on the span text
    // (WindowGroupLimit map-side prune, plan-gated), reassemble with an
    // ordered in-group sort. Docs that are entirely duplicate spans
    // disappear — the degenerate case of q40's whole-doc dedup.
    // Scale: one shuffle on the span text (high-cardinality, ~100-byte
    // rows), one on doc_id for reassembly; no pairwise stage anywhere.
    // Partitioning by the exact span (not a hash of it) keeps the op
    // collision-proof; the shuffle row is the span itself, which the
    // reassembly needs anyway.
    Q("q97_span_dedup",
      (s, d) => {
        val w = Window.partitionBy("para").orderBy("doc_id", "span_no")
        fanOut(documents(s, d))
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .select(col("doc_id"), col("toks"),
            explode(expr("sequence(0, (size(toks) + 15) DIV 16 - 1)"))
              .as("span_no"))
          .select(col("doc_id"), col("span_no"),
            array_join(
              slice(col("toks"), col("span_no") * 16 + 1, lit(16)), " ")
              .as("para"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .groupBy("doc_id")
          .agg(
            expr("array_join(transform(array_sort(" +
              "collect_list(struct(span_no, para))), x -> x.para), ' ')")
              .as("text_dedup"),
            count(lit(1)).as("kept_spans"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, str_split(text, ' ') AS s
             |          FROM documents),
             |c AS (SELECT doc_id, i AS span_no,
             |        array_to_string(s[(i*16+1):(i*16+16)], ' ') AS para
             |      FROM t, unnest(range(CAST(ceil(len(s)/16.0) AS BIGINT)))
             |        AS u(i)),
             |k AS (SELECT doc_id, span_no, para,
             |        row_number() OVER (PARTITION BY para
             |          ORDER BY doc_id, span_no) AS rn
             |      FROM c)
             |SELECT doc_id,
             |  string_agg(para, ' ' ORDER BY span_no) AS text_dedup,
             |  CAST(count(*) AS BIGINT) AS kept_spans
             |FROM k WHERE rn = 1
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // X32 classifier-based quality filtering — the learned complement of
    // q44's heuristic rules (CCNet/GPT-3 run both: rule-based cleanup,
    // then a fastText-style linear classifier decides keep/drop). What is
    // graded here is the SCALE PLUMBING of model scoring: hashing-trick
    // features (token hash mod D buckets — no vocabulary table, no OOV
    // path, D fixed at training time) and a weight vector small enough to
    // live in every task (real fastText weights are D×1 after the hidden
    // layer collapses; here the vector is ARITHMETIC — w(f) derives from f
    // in closed form — standing in for a broadcast lookup with zero
    // join). Score = Σ_tokens w(f(token)): one explode + one partial+final
    // agg on doc_id; map-side combine carries (count, sum) pairs, never
    // token strings. Integer weights keep the score bit-exact cross-engine
    // (a float sigmoid would be libm-dependent; the keep decision only
    // needs the sign). At 100 TB this is the same shape as q45/q103:
    // fanOut → explode → hash — no new scale risk.
    Q("q120_quality_classifier",
      // single implementation shared with the end-to-end chain
      // (pipelines/CurationPipeline stage 1 — the DedupPipeline
      // no-drift pattern; CurationPipelineSpec pins parity)
      (s, d) => graft.pipelines.CurationPipeline
        .qualityScores(fanOut(documents(s, d)))
        .orderBy("doc_id"),
      Some("""WITH tok AS (SELECT doc_id, unnest(str_split(text, ' ')) AS w
             |            FROM documents),
             |feat AS (SELECT doc_id,
             |           ('0x' || substr(md5(w), 1, 15))::BIGINT % 256 AS f
             |         FROM tok),
             |scored AS (SELECT doc_id,
             |             CAST(count(*) AS BIGINT) AS n_tokens,
             |             CAST(sum((f * 2971 + 1129) % 1997 - 998)
             |               AS BIGINT) AS score
             |           FROM feat GROUP BY doc_id)
             |SELECT doc_id, n_tokens, score, score > 0 AS keep
             |FROM scored ORDER BY doc_id""".stripMargin)),

    // X90 collocation mining by LIFT — X4b (q72) ranks bigrams by raw
    // count, which surfaces common-word pairs; a curator hunting for
    // COLLOCATIONS (named entities, fixed phrases, templated spans to
    // protect or strip) ranks by surprise instead: lift = P(a,b) /
    // (P(a,·)·P(·,b)) over the bigram population, in exact integer ppm
    // — lift is PMI without the float log, so both engines compute it
    // bit-identically. Min-support c(a,b) ≥ 5 kills one-off noise.
    // Lift VALUES are copy-invariant: verbatim replication scales
    // c_ab, marginals, and N by the same k, which cancels — k²/k²
    // (invariant spec plants copies and pins it). The min-support
    // gate is DELIBERATELY count-based, so a gram sitting below 5
    // can cross the gate under replication and enter the report —
    // that is the intended reading (support measures corpus
    // evidence, which replication genuinely adds); the spec pins
    // this documented behavior with a sub-support gram too.
    // Exactness: 1e6·c_ab·N can exceed long at corpus scale, so the
    // ratio is computed in DECIMAL(38,0) (Spark `div` on decimals,
    // DuckDB HUGEINT `//` — both exact integral division on the
    // non-negative domain; 38 digits holds any corpus this engine
    // will ever see). Scale shape: one gram window pass (q72's
    // machinery) into a (ha, hb) partial+final agg, cut
    // ONCE (it is read 4×: both marginals, the total, the join);
    // marginals and N are PAIR-TABLE aggs, never corpus scans; the
    // report reduces via TakeOrdered.
    Q("q200_bigram_lift",
      (s, d) => {
        // adjacent token pairs MAP-SIDE (struct-transform; the lead
        // window paid an exchange+sort of the token stream — guide §2.4)
        val pairs = fanOut(documents(s, d))
          .select(split(col("text"), " ").as("t"))
          .filter(size(col("t")) >= 2)
          .select(explode(expr("transform(sequence(0, size(t) - 2), " +
            "i -> struct(t[i] AS tok, t[i + 1] AS nxt))")).as("p"))
          .select((Scalars.tokenHash(col("p.tok")) % P).as("ha"),
            (Scalars.tokenHash(col("p.nxt")) % P).as("hb"),
            concat_ws(" ", col("p.tok"), col("p.nxt")).as("gram"))
        val cab = pairs.groupBy("ha", "hb")
          .agg(count(lit(1)).as("cab"), min("gram").as("gram"))
          .transform(Materialize.cut)
        val ca = cab.groupBy("ha").agg(sum("cab").as("ca"))
        val cb = cab.groupBy("hb").agg(sum("cab").as("cb"))
        val n = cab.agg(sum("cab").as("n_total"))
        cab.filter(col("cab") >= 5)
          .join(ca, "ha").join(cb, "hb")
          .crossJoin(broadcast(n))
          .select(col("gram"), col("cab"), col("ca"), col("cb"),
            expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * cab * n_total)" +
              " div (CAST(ca AS DECIMAL(38,0)) * cb) AS BIGINT)")
              .as("lift_ppm"))
          .orderBy(col("lift_ppm").desc, col("gram"))
          .limit(20)
      },
      Some(s"""WITH t AS (
             |  SELECT doc_id, str_split(text, ' ') AS ws
             |  FROM documents),
             |p AS (
             |  SELECT (${QueriesText.tokSql("ws[i]")} % $P) AS ha,
             |    (${QueriesText.tokSql("ws[i+1]")} % $P) AS hb,
             |    ws[i] || ' ' || ws[i+1] AS gram
             |  FROM t, unnest(range(1, len(ws))) AS u(i)
             |  WHERE len(ws) >= 2),
             |cab AS (
             |  SELECT ha, hb, CAST(count(*) AS BIGINT) AS cab,
             |    min(gram) AS gram
             |  FROM p GROUP BY 1, 2),
             |ca AS (SELECT ha, CAST(sum(cab) AS BIGINT) AS ca
             |       FROM cab GROUP BY ha),
             |cb AS (SELECT hb, CAST(sum(cab) AS BIGINT) AS cb
             |       FROM cab GROUP BY hb),
             |n AS (SELECT CAST(sum(cab) AS BIGINT) AS n_total FROM cab)
             |SELECT cab.gram, cab.cab, ca.ca, cb.cb,
             |  CAST((1000000::HUGEINT * cab.cab * n.n_total)
             |    // (ca.ca::HUGEINT * cb.cb) AS BIGINT) AS lift_ppm
             |FROM cab JOIN ca USING (ha) JOIN cb USING (hb) CROSS JOIN n
             |WHERE cab.cab >= 5
             |ORDER BY lift_ppm DESC, cab.gram LIMIT 20""".stripMargin))
  )
}
