package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{GlobalRank, Materialize, Scalars}

/** Training-data pipeline tier III — dataset CURATION operators (round 3):
  * the steps between "deduped corpus" and "training shards" that every
  * large-scale LLM data pipeline runs, each with a DuckDB oracle.
  *
  * Scale notes (north star = 100 TB):
  *  - Hash split (q85): split membership is a pure function of content
  *    hash — reproducible across runs/engines/partitionings, no rand(),
  *    and any document's split can be answered point-wise without global
  *    state. One partial+final agg; no extra shuffle beyond the groupBy.
  *  - Context packing (q86): the global running token count comes from
  *    ops/GlobalRank.prefixSum (range-partition + per-partition offsets),
  *    NOT a single-partition window — packing a 100 TB corpus into fixed
  *    token-budget bins stays fully parallel.
  *  - Decontamination (q87): the benchmark side is dimension-sized, so
  *    the shingle match is a broadcast semi/anti join — the corpus is
  *    never shuffled on shingle, and nothing is pairwise.
  *  - Stratified sample (q88): per-stratum rank over a content hash with
  *    rank<=k — WindowGroupLimit prunes map-side, so the shuffle carries
  *    O(k·strata) rows; the sample is deterministic and re-runnable.
  *  - `Tables.fanOut` is deliberately NOT used here (measured: it makes
  *    q87/q89 ~20-50% slower at sf0.1 — repartition shuffles full text
  *    bodies, which outweighs the extra scan parallelism; explode's
  *    downstream groupBy already redistributes). At real scale the scan
  *    has many splits and the question disappears (fanOut scaladoc).
  *    Exception: q130's stride-1 window hashing is md5-per-position —
  *    per-row work heavy enough that the single-task scan dominates.
  */
object QueriesCuration {
  import Tables._

  /** Deterministic 0..99 bucket from a tagged content hash (md5-based so
    * DuckDB replays it bit-for-bit; see Scalars.tokenHash).
    */
  private[graft] def bucket(tag: String) =
    pmod(Scalars.tokenHash(
      concat(lit(tag), col("doc_id").cast("string"))), lit(100L))

  private[graft] def bucketSql(tag: String) =
    s"(('0x' || substr(md5('$tag' || CAST(doc_id AS VARCHAR)), 1, 15))" +
      s"::BIGINT % 100)"

  /** Largest-remainder (Hamilton) allocation of an integer `budget` over
    * the rows of `t` in proportion to their integer `weight` column (q137,
    * q154): each row gets `budget·w DIV W`, and the leftover units go one
    * each to the largest remainders `budget·w % W`, ties to the smaller
    * `key`. Adds `alloc`, with Σ alloc = budget EXACTLY — exact BIGINT
    * arithmetic end to end. `budget` is a literal or an aggregate over
    * `t`. `t` is small by nature (a mixing table, one row per source), so
    * one aggregate collects it into one row and the ranking is a sort of
    * that row's array: `t` is read once, so a lazy `t` (q154's prefix-sum
    * totals) enters the plan once.
    */
  private def largestRemainder(t: DataFrame, key: String, weight: String,
      budget: Column): DataFrame = {
    val share = s"(b * r.`$weight`)"
    t.agg(collect_list(struct(t.columns.toSeq.map(c => col(s"`$c`")): _*))
        .as("rs"), sum(weight).as("w_tot"), budget.as("b"))
      // -rem first: ascending order ranks the largest remainder first
      .select(posexplode(expr(s"""array_sort(transform(rs, r -> struct(
          -($share % w_tot) AS nrem, r.`$key` AS k,
          $share DIV w_tot AS base, r AS row)))""")),
        expr(s"b - aggregate(rs, 0L, (a, r) -> a + $share DIV w_tot)")
          .as("leftover"))
      .select(col("col.row.*"), (col("col.base") +
        when(col("pos") < col("leftover"), 1L).otherwise(0L)).as("alloc"))
  }

  /** q203's corpus stage: per-doc rendezvous argmax under 8 and 9 shards,
    * contracted to (s8, s9) pair counts. Weights/argmax compute per-row in
    * one projection (9 fixed md5s over doc_id only — no explode, no text);
    * the pair agg is the op's ONLY corpus exchange and its key space is
    * ≤ 81 rows, so the map-side combine collapses it per task. key =
    * (w % 1e15)·16 + s packs (weight, shard) into one BIGINT; % 16
    * recovers the winning shard, higher shard winning exact-weight ties.
    */
  private[graft] def rendezvousPairs(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val keys = transform(sequence(lit(0), lit(8)), sh =>
      (Scalars.tokenHash(concat(lit("shard"), sh.cast("string"),
        lit(":"), col("doc_id").cast("string")))
        % lit(1000000000000000L)) * lit(16L) + sh.cast("long"))
    docs
      .select(col("doc_id"), keys.as("ks"))
      .select(
        (array_max(slice(col("ks"), 1, 8)) % 16).cast("int").as("s8"),
        (array_max(col("ks")) % 16).cast("int").as("s9"))
      .groupBy("s8", "s9")
      .agg(count(lit(1)).as("c"))
  }

  /** A34 experiment sizing — ClickHouse `minSampleSizeConversion` /
    * `minSampleSizeContinuous` parity; see q237's scaladoc for the
    * z-literal and exact-partials discipline. Input: (event_type,
    * x cents); the conversion event is x ≥ 10000 (a ≥ $100 purchase),
    * mde = 0.05 absolute lift / 500 cents mean shift, α = 0.05,
    * power = 0.80.
    */
  private[graft] def minSampleSizes(
      e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    e.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        count(when(col("x") >= 10000L, lit(1))).as("k"),
        sum(col("x")).as("sx"),
        sum(expr("CAST(x * x AS DECIMAL(38,0))")).as("sxx"))
      .filter(col("n") > 1)
      // the trees below are mirrored textually by the q237 oracle —
      // identical ops over identical exact partials, in lockstep
      .withColumn("mean_c", expr(
        "CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)"))
      .withColumn("s2", expr(
        "(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * mean_c) / " +
          "CAST(n - 1 AS DOUBLE)"))
      .filter(expr("s2 > 0"))
      .withColumn("p1", expr(
        "CAST(k AS DOUBLE) / CAST(n AS DOUBLE)"))
      .withColumn("n_req_conversion", expr(
        "((1.9599639845400545e0 + 0.8416212335729143e0) * " +
          "(1.9599639845400545e0 + 0.8416212335729143e0)) * " +
          "(p1 * (1.0 - p1) + " +
          "(p1 + 0.05) * (1.0 - (p1 + 0.05))) / (0.05 * 0.05)"))
      .withColumn("n_req_continuous", expr(
        "2.0 * ((1.9599639845400545e0 + 0.8416212335729143e0) * " +
          "(1.9599639845400545e0 + 0.8416212335729143e0)) * s2 / " +
          "(500.0 * 500.0)"))
      .select("event_type", "n", "k", "p1", "n_req_conversion",
        "s2", "n_req_continuous")
      .orderBy("event_type")

  /** Shared two-sample domain of the drift-gate family (q222/q225/q226/
    * q227): per event, its value cents and grp = 0 for the FIRST WEEK
    * (day < min_day + 7) else 1 — the A/B window split, derived on both
    * engines from min(day) so the oracles replay the same predicate.
    * min(day) rides a 1-row broadcast against the corpus (plan-gated on
    * q222).
    */
  private def weekSplitCents(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val e = events(s, d).select(col("event_type"),
      Scalars.longDiv("ts", 86400000000000L).as("day"),
      Scalars.cents(col("value")).as("x"))
    val d0 = e.agg(min("day").as("d0"))
    e.crossJoin(broadcast(d0))
      .withColumn("grp",
        when(col("day") < col("d0") + lit(7L), lit(0)).otherwise(lit(1)))
  }

  /** DuckDB prefix of the same split (CTEs `e` and `d0`). */
  private def weekSplitSqlPrefix: String =
    s"""WITH e AS (
       |  SELECT event_type,
       |    epoch_ns(ts) // 86400000000000 AS day,
       |    ${Scalars.centsSql("value")} AS x
       |  FROM events),
       |d0 AS (SELECT min(day) AS d0 FROM e),""".stripMargin

  /** DuckDB rendition of [[graft.ops.Welch.partials]] over the week
    * split — the `p` CTE shared verbatim by q222 and q225 (one copy, so
    * the exact-partials contract can't drift between the two oracles).
    */
  private def weekSplitPartialsSql: String =
    """p AS (
      |  SELECT event_type,
      |    CAST(count(CASE WHEN day < d0 + 7 THEN 1 END)
      |      AS BIGINT) AS n_a,
      |    CAST(count(CASE WHEN day >= d0 + 7 THEN 1 END)
      |      AS BIGINT) AS n_b,
      |    CAST(sum(CASE WHEN day < d0 + 7 THEN x END)
      |      AS BIGINT) AS sx_a,
      |    CAST(sum(CASE WHEN day >= d0 + 7 THEN x END)
      |      AS BIGINT) AS sx_b,
      |    sum(CASE WHEN day < d0 + 7
      |      THEN CAST(x * x AS DECIMAL(38,0)) END) AS sxx_a,
      |    sum(CASE WHEN day >= d0 + 7
      |      THEN CAST(x * x AS DECIMAL(38,0)) END) AS sxx_b
      |  FROM e, d0 GROUP BY event_type),""".stripMargin

  val all: Seq[Q] = Seq(

    // X92 rendezvous (highest-random-weight) shard assignment +
    // elasticity audit (Thaler & Ravishankar 1996) — the shard router a
    // 100 TB corpus store actually needs: mod-N hashing (X11's bucket)
    // reassigns ~100% of docs when N changes; rendezvous assigns each doc
    // to argmax_s h(doc, s), so growing N -> N+1 moves EXACTLY the docs
    // whose new shard wins the argmax — an expected 1/(N+1), and never
    // between old shards (the argmax over a superset changes only if the
    // new element is the max — visible in the output as structural zeros
    // and spec-pinned). Reported: per shard, loads under 8 and 9 shards
    // and the moved-in count. Weights are the md5 tokenHash family mod
    // 1e15, bit-replayable in DuckDB; key = w*16 + s packs (weight,
    // shard) into one BIGINT (1.6e16 < 2^63) so argmax + tiebreak
    // (higher shard wins exact weight ties) is a plain max.
    // Scale shape: ZERO corpus shuffle — the 9 weights and both argmaxes
    // compute per-row in one projection (9 fixed md5s, no explode), and
    // the only exchange is the partial+final agg on the ≤81-row (s8, s9)
    // pair space; shard tables derive from those 81 rows. Adding a shard
    // re-audits without touching the corpus layout.
    Q("q203_rendezvous_shard",
      (s, d) => {
        val pairs = rendezvousPairs(documents(s, d))
          .transform(Materialize.cut) // the views' joins infer distinct filters
        val d8 = pairs.groupBy(col("s8").as("shard"))
          .agg(sum("c").as("docs_8"))
        val d9 = pairs.groupBy(col("s9").as("shard"))
          .agg(sum("c").as("docs_9"),
            sum(when(col("s8") =!= col("s9"), col("c")).otherwise(0L))
              .as("moved_in"))
        s.range(9).select(col("id").cast("int").as("shard"))
          .join(d8, Seq("shard"), "left")
          .join(d9, Seq("shard"), "left")
          .select(col("shard"),
            coalesce(col("docs_8"), lit(0L)).as("docs_8"),
            coalesce(col("docs_9"), lit(0L)).as("docs_9"),
            coalesce(col("moved_in"), lit(0L)).as("moved_in"))
          .orderBy("shard")
      },
      Some("""WITH k AS (
             |  SELECT doc_id, list_transform(range(0, 9), s ->
             |    (('0x' || substr(md5('shard' || CAST(s AS VARCHAR) ||
             |      ':' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
             |      % 1000000000000000) * 16 + s) AS ks
             |  FROM documents),
             |a AS (SELECT
             |    CAST(list_max(ks[1:8]) % 16 AS INT) AS s8,
             |    CAST(list_max(ks) % 16 AS INT) AS s9 FROM k),
             |p AS (SELECT s8, s9, count(*) AS c FROM a GROUP BY 1, 2),
             |d8 AS (SELECT s8 AS shard, CAST(sum(c) AS BIGINT) AS docs_8
             |       FROM p GROUP BY 1),
             |d9 AS (SELECT s9 AS shard, CAST(sum(c) AS BIGINT) AS docs_9,
             |         CAST(sum(CASE WHEN s8 <> s9 THEN c ELSE 0 END)
             |           AS BIGINT) AS moved_in
             |       FROM p GROUP BY 1),
             |sh AS (SELECT CAST(unnest(range(0, 9)) AS INT) AS shard)
             |SELECT sh.shard, coalesce(docs_8, 0) AS docs_8,
             |  coalesce(docs_9, 0) AS docs_9,
             |  coalesce(moved_in, 0) AS moved_in
             |FROM sh LEFT JOIN d8 USING (shard) LEFT JOIN d9 USING (shard)
             |ORDER BY shard""".stripMargin)),

    // X11 train/val/test hash split: 80/10/10 by content hash — the
    // reproducible replacement for rand()-based splitting (stable under
    // retries, re-partitioning, and incremental corpus growth: a doc's
    // split never changes when other docs arrive).
    Q("q85_hash_split",
      (s, d) => documents(s, d)
        .withColumn("split",
          when(bucket("split:") < 80, "train")
            .when(bucket("split:") < 90, "val")
            .otherwise("test"))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("sum_chars"))
        .orderBy("lang", "split"),
      Some(s"""SELECT lang,
              |  CASE WHEN ${bucketSql("split:")} < 80 THEN 'train'
              |       WHEN ${bucketSql("split:")} < 90 THEN 'val'
              |       ELSE 'test' END AS split,
              |  CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
              |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // X12 token-budget context packing: documents in doc_id order fill
    // fixed 2000-token bins (bin = exclusive-prefix-sum DIV budget — docs
    // are never split; each bin's contents are contiguous). The prefix
    // sum is the distributed ops/GlobalRank.prefixSum, not a global
    // window.
    Q("q86_token_packing",
      // packing itself is pipelines/CurationPipeline.packBins — the
      // single implementation the end-to-end chain also uses (stage 5)
      (s, d) => graft.pipelines.CurationPipeline.packBins(
        documents(s, d).select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("tokens"))),
      Some("""WITH t AS (
             |  SELECT doc_id, CAST(len(str_split(text, ' ')) AS BIGINT)
             |    AS tokens FROM documents),
             |c AS (
             |  SELECT doc_id, tokens,
             |    COALESCE(CAST(sum(tokens) OVER (ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS BIGINT), 0) AS cum_before
             |  FROM t)
             |SELECT CAST(cum_before // 2000 AS BIGINT) AS bin,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(tokens) AS BIGINT) AS sum_tokens,
             |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
             |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)),

    // X13 benchmark decontamination: drop every corpus doc sharing any
    // 5-gram (word shingle) with the benchmark set (stand-in: doc_id %
    // 100 = 0). Benchmark shingles broadcast; corpus-side match is a
    // semi-join feeding a doc-level anti-join — never pairwise. Docs
    // under 5 tokens carry no 5-gram and cannot be contaminated.
    Q("q87_decontaminate",
      // contamination detection is pipelines/CurationPipeline
      // .contaminatedDocs — the single implementation the end-to-end
      // chain also uses (stage 3)
      (s, d) => {
        val docs = documents(s, d)
        val corp = docs.filter(col("doc_id") % 100 =!= 0)
        // fanOut on the two SHINGLE inputs only (one md5 per 5-gram is
        // the per-row-heavy stage; r17 sf1 measurement: 4.45 s with both
        // Generate chains inside one scan task). The anti-join's own corp
        // scan does no per-row work and stays unfanned. In q212's
        // pipeline the inputs arrive pre-fanned from the corpus snapshot,
        // so contaminatedDocs itself stays layout-neutral.
        corp.join(
            graft.pipelines.CurationPipeline.contaminatedDocs(
              fanOut(corp), fanOut(docs.filter(col("doc_id") % 100 === 0))),
            Seq("doc_id"), "left_anti")
          .groupBy("lang")
          .agg(count(lit(1)).as("kept_docs"))
          .orderBy("lang")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, lang, str_split(text, ' ') AS t
             |  FROM documents),
             |sh AS (
             |  SELECT doc_id, unnest(list_transform(
             |    range(1, len(t) - 3),
             |    i -> array_to_string(t[i:i+4], ' '))) AS sh
             |  FROM toks WHERE len(t) >= 5),
             |bench AS (
             |  SELECT DISTINCT sh FROM sh WHERE doc_id % 100 = 0),
             |contaminated AS (
             |  SELECT DISTINCT s.doc_id FROM sh s
             |  JOIN bench b ON s.sh = b.sh
             |  WHERE s.doc_id % 100 <> 0)
             |SELECT lang, CAST(count(*) AS BIGINT) AS kept_docs
             |FROM toks
             |WHERE doc_id % 100 <> 0
             |  AND doc_id NOT IN (SELECT doc_id FROM contaminated)
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    // X14 deterministic stratified sample: k docs per language, chosen by
    // content-hash rank — the reproducible form of per-stratum random
    // sampling (same sample every run, any partitioning, any engine).
    Q("q88_stratified_sample",
      (s, d) => {
        val w = Window.partitionBy("lang")
          .orderBy(bucketFull("samp:"), col("doc_id").asc)
        documents(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 20)
          .select(col("lang"), col("rn"), col("doc_id"))
          .orderBy("lang", "rn")
      },
      Some(s"""SELECT lang, CAST(rn AS INT) AS rn, doc_id FROM (
              |  SELECT lang, doc_id, row_number() OVER (
              |    PARTITION BY lang
              |    ORDER BY ('0x' || substr(md5('samp:' ||
              |      CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
              |      doc_id ASC) AS rn
              |  FROM documents)
              |WHERE rn <= 20 ORDER BY lang, rn""".stripMargin)),

    // X15 repetition filter (Gopher/C4-style quality rule): drop docs
    // whose most frequent unigram exceeds 12% of tokens. Relational all
    // the way: explode → partial+final count per (doc, token) → per-doc
    // max/sum — the shuffle carries distinct (doc, token) pairs, and
    // total tokens is sum(token counts), so the token stream is read
    // once.
    Q("q89_repetition_filter",
      // fanOut: the (doc, tok) partial agg over the exploded stream
      // otherwise runs inside the one scan task (r17 sf1: 2.1 s)
      (s, d) => fanOut(documents(s, d))
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("tok"))
        .groupBy("doc_id", "lang", "tok").agg(count(lit(1)).as("c"))
        .groupBy("doc_id", "lang")
        .agg((max("c").cast("double") / sum("c")).as("frac"))
        .groupBy("lang")
        .agg(
          sum(when(col("frac") <= 0.12, 1L).otherwise(0L)).as("kept_docs"),
          sum(when(col("frac") <= 0.12, 0L).otherwise(1L)).as("dropped_docs"))
        .orderBy("lang"),
      Some("""WITH tc AS (
             |  SELECT doc_id, lang, unnest(str_split(text, ' ')) AS tok
             |  FROM documents),
             |cc AS (
             |  SELECT doc_id, lang, tok, count(*) AS c
             |  FROM tc GROUP BY 1, 2, 3),
             |m AS (
             |  SELECT doc_id, lang,
             |    CAST(max(c) AS DOUBLE) / CAST(sum(c) AS BIGINT) AS frac
             |  FROM cc GROUP BY 1, 2)
             |SELECT lang,
             |  CAST(sum(CASE WHEN frac <= 0.12 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS kept_docs,
             |  CAST(sum(CASE WHEN frac <= 0.12 THEN 0 ELSE 1 END)
             |    AS BIGINT) AS dropped_docs
             |FROM m GROUP BY lang ORDER BY lang""".stripMargin)),

    // X16 source-weighted corpus mixing: each source gets a sampling rate
    // (20..100%, derived from its numeric suffix here; a config map in
    // production) and docs are included by content-hash threshold — the
    // deterministic form of mixture sampling: the mix is reproducible,
    // point-auditable per doc, and stable when the corpus grows.
    Q("q90_source_mix",
      // the keep flag is pipelines/CurationPipeline.mixKept — the single
      // implementation the end-to-end chain also uses (stage 4)
      (s, d) => documents(s, d)
        .withColumn("kept", graft.pipelines.CurationPipeline.mixKept)
        .groupBy("source")
        .agg(count(lit(1)).as("total_docs"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("kept_docs"))
        .orderBy("source"),
      Some(s"""SELECT source,
              |  CAST(count(*) AS BIGINT) AS total_docs,
              |  CAST(sum(CASE WHEN ${bucketSql("mix:")} <
              |    20 + (substr(source, 4)::INT % 5) * 20
              |    THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs
              |FROM documents GROUP BY source
              |ORDER BY source""".stripMargin)),

    // X49 temperature-scaled mixing allocation — the sampling-budget step
    // multilingual/multi-source pretraining runs (α-smoothed multinomial,
    // Conneau & Lample 2019): per-source sampling mass ∝ n^α with α=1/2,
    // flattening the natural distribution so small sources are not
    // swamped; a fixed budget B=100000 is allotted by largest-remainder
    // rounding (Hamilton's method), so Σ alloc = B EXACTLY — downstream
    // shard writers depend on that invariant. Cross-engine discipline:
    // w = floor(1e6·sqrt(n)) is one exactly-rounded IEEE sqrt + multiply
    // (bit-identical in any engine) frozen to integer fixed point, so the
    // total W, every quotient, and every remainder are exact BIGINT
    // arithmetic — no accumulation-order-dependent double sums (the
    // Scalars.moneySum lesson applied to sampling weights).
    // Scale shape: one partial+final count over sources-many groups; the
    // weight/allocation arithmetic runs on the sources-sized table (by
    // nature tiny — a mixing table is human-curated cardinality), with
    // the totals broadcast back and the remainder ranking a window over
    // that same tiny table. The corpus is scanned once, for the counts.
    Q("q137_mix_allocation",
      (s, d) => {
        val counts = documents(s, d)
          .groupBy("source").agg(count(lit(1)).as("n_docs"))
          .withColumn("w_fp",
            floor(lit(1e6) * sqrt(col("n_docs").cast("double"))))
        largestRemainder(counts, "source", "w_fp", lit(100000L))
          .select("source", "n_docs", "w_fp", "alloc")
          .orderBy("source")
      },
      Some("""WITH counts AS (
             |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
             |  FROM documents GROUP BY source),
             |wf AS (
             |  SELECT source, n_docs,
             |    CAST(floor(1e6 * sqrt(CAST(n_docs AS DOUBLE)))
             |      AS BIGINT) AS w_fp
             |  FROM counts),
             |tot AS (SELECT CAST(sum(w_fp) AS BIGINT) AS w_tot FROM wf),
             |base AS (
             |  SELECT wf.source, wf.n_docs, wf.w_fp,
             |    (100000 * wf.w_fp) // t.w_tot AS alloc_base,
             |    (100000 * wf.w_fp) % t.w_tot AS rem
             |  FROM wf CROSS JOIN tot t),
             |lo AS (SELECT CAST(100000 - sum(alloc_base) AS BIGINT)
             |         AS leftover FROM base),
             |rk AS (
             |  SELECT source, n_docs, w_fp, alloc_base,
             |    CAST(row_number() OVER (
             |      ORDER BY rem DESC, source ASC) AS BIGINT) AS rk
             |  FROM base)
             |SELECT source, n_docs, w_fp,
             |  CAST(alloc_base + (CASE WHEN rk.rk <= lo.leftover
             |    THEN 1 ELSE 0 END) AS BIGINT) AS alloc
             |FROM rk CROSS JOIN lo ORDER BY source""".stripMargin)),

    // X66 token-budget mix materialization — the step that turns X49's
    // allocation into an actual dataset: a global token budget
    // B = corpus_tokens DIV 2 is split per source ∝ floor(1e6·sqrt(
    // source_tokens)) by largest-remainder (Σ budgets = B exactly), then
    // each source contributes its docs in deterministic content-hash
    // order until the running token sum crosses its budget (a doc is kept
    // iff the sum BEFORE it is under budget — reproducible on any engine,
    // any partitioning). Undersubscribed sources (budget > their total
    // tokens) surface as fill_ppm < 1e6 — the data-constrained signal
    // that the mix needs multiple epochs of that source.
    // Scale shape — the per-source ordered prefix sum is the trap: a
    // window PARTITIONed BY source alone puts an entire source (possibly
    // half of 100 TB) in ONE task. It is GlobalRank.prefixSum instead:
    // range-partitioned on (source, h, doc_id), so a source spreads over
    // as many tasks as its rows need, and `before` is each doc's running
    // token sum within its source. Its totals are the per-source n_tok
    // the budgets derive from, so the corpus is scanned and its text
    // split exactly once.
    Q("q154_budget_materialize",
      (s, d) => {
        val t = fanOut(documents(s, d))
          .select(col("source"), col("doc_id"),
            bucketFull("pack:").as("h"),
            size(split(col("text"), " ")).cast("long").as("ntok"))
        val (rows, totals) = GlobalRank.prefixSum(t, Seq("source"),
          Seq(col("h"), col("doc_id")), col("ntok"))
        val st = totals.select(col("source"), col("total").as("n_tok"))
          .withColumn("w_fp",
            floor(lit(1e6) * sqrt(col("n_tok").cast("double"))))
        val budgets = largestRemainder(st, "source", "w_fp",
            expr("sum(n_tok) DIV 2"))
          .select(col("source"), col("alloc").as("budget_tok"))
        rows.join(broadcast(budgets), Seq("source"))
          .withColumn("kept", col("before") < col("budget_tok"))
          .groupBy("source")
          .agg(max("budget_tok").as("budget_tok"),
            sum(when(col("kept"), 1L).otherwise(0L)).as("kept_docs"),
            sum(when(col("kept"), col("ntok")).otherwise(0L))
              .as("kept_tok"))
          .withColumn("fill_ppm",
            expr("(1000000L * kept_tok) DIV budget_tok"))
          .select("source", "budget_tok", "kept_docs", "kept_tok",
            "fill_ppm")
          .orderBy("source")
      },
      Some("""WITH t AS (
             |  SELECT source, doc_id,
             |    ('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)),
             |      1, 15))::BIGINT AS h,
             |    CAST(len(str_split(text, ' ')) AS BIGINT) AS ntok
             |  FROM documents),
             |st AS (
             |  SELECT source, CAST(sum(ntok) AS BIGINT) AS n_tok
             |  FROM t GROUP BY source),
             |wf AS (
             |  SELECT source, n_tok,
             |    CAST(floor(1e6 * sqrt(CAST(n_tok AS DOUBLE)))
             |      AS BIGINT) AS w_fp
             |  FROM st),
             |tot AS (SELECT CAST(sum(w_fp) AS BIGINT) AS w_tot,
             |  CAST(sum(n_tok) AS BIGINT) // 2 AS b FROM wf),
             |base AS (
             |  SELECT wf.source, wf.w_fp, t.b,
             |    (t.b * wf.w_fp) // t.w_tot AS alloc_base,
             |    (t.b * wf.w_fp) % t.w_tot AS rem
             |  FROM wf CROSS JOIN tot t),
             |lo AS (SELECT CAST(max(b) - sum(alloc_base) AS BIGINT)
             |         AS leftover FROM base),
             |rk AS (
             |  SELECT source, alloc_base,
             |    CAST(row_number() OVER (
             |      ORDER BY rem DESC, source ASC) AS BIGINT) AS rk
             |  FROM base),
             |bud AS (
             |  SELECT source,
             |    CAST(alloc_base + (CASE WHEN rk.rk <= lo.leftover
             |      THEN 1 ELSE 0 END) AS BIGINT) AS budget_tok
             |  FROM rk CROSS JOIN lo),
             |c AS (
             |  SELECT source, ntok,
             |    sum(ntok) OVER (PARTITION BY source
             |      ORDER BY h ASC, doc_id ASC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      - ntok AS cum_before
             |  FROM t)
             |SELECT c.source, CAST(max(bud.budget_tok) AS BIGINT)
             |    AS budget_tok,
             |  CAST(sum(CASE WHEN c.cum_before < bud.budget_tok
             |    THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
             |  CAST(sum(CASE WHEN c.cum_before < bud.budget_tok
             |    THEN c.ntok ELSE 0 END) AS BIGINT) AS kept_tok,
             |  CAST((1000000 * sum(CASE WHEN c.cum_before < bud.budget_tok
             |    THEN c.ntok ELSE 0 END)) // max(bud.budget_tok)
             |    AS BIGINT) AS fill_ppm
             |FROM c JOIN bud USING (source)
             |GROUP BY c.source ORDER BY c.source""".stripMargin)),

    // X52 DSIR-style importance scoring (Xie et al. 2023, "Data Selection
    // for Language Models via Importance Resampling") — the data-SELECTION
    // step run when a large raw corpus must be filtered toward a small
    // high-quality target domain: featurize every doc into hashed bigram
    // buckets (the paper's hashed n-gram feature space), estimate the
    // target and raw feature distributions, and score each doc by how
    // target-like its features are; the top-scored raw docs are selected.
    // Here the declared target is `source = 'src0'` (the stand-in for the
    // paper's small curated target corpus) and the score is the exact
    // fixed-point frequency-ratio form: per bucket
    // ratio_fp = (1e6·(cnt_target+1)) DIV (cnt_raw+1) (add-one smoothed),
    // per doc score_fp = Σ n_b·ratio_fp — integer arithmetic end to end,
    // so the ranking is reproducible bit-for-bit (the paper's sum-of-log
    // ratios would hang the ranking on last-ulp libm differences; the
    // monotone ratio-sum family is the exact-arithmetic member). Output:
    // the top-32 selected docs — target-source docs dominate, but
    // target-LIKE docs from other sources are selected too, which is the
    // point of importance resampling over a plain source filter.
    // Scale shape (q136's read-once discipline): the corpus token stream
    // is exploded ONCE into per-(doc, bucket) counts (partial map-side
    // combine; ≤4096 distinct buckets per doc), whose exchange is read
    // by both consumers (ReusedExchange, plan-gated); BOTH distribution
    // marginals reduce from that table (4096-row output), the ratio table
    // re-joins BROADCAST, and the top-k is TakeOrdered — never a global
    // sort. At 100 TB: one corpus scan, one doc-sized exchange, 4 KB of
    // distribution state.
    Q("q140_dsir_score",
      (s, d) => {
        // bigrams MAP-SIDE (slice-transform, the oracle's own form; the
        // lead window paid an exchange+sort of the token stream —
        // guide §2.4); identical bucket multiset
        val bg = fanOut(documents(s, d))
          .select(col("doc_id"), col("source"),
            split(col("text"), " ").as("t"))
          .filter(size(col("t")) >= 2)
          .select(col("doc_id"), col("source"),
            explode(Scalars.kgrams("t", 2)).as("bg"))
          .select(col("doc_id"), col("source"),
            pmod(Scalars.tokenHash(col("bg")), lit(4096L)).as("bucket"))
        val db = bg.groupBy("doc_id", "source", "bucket")
          .agg(count(lit(1)).as("n"))
        val ratio = db.groupBy("bucket")
          .agg(sum("n").as("cnt_r"),
            sum(when(col("source") === "src0", col("n")).otherwise(0L))
              .as("cnt_t"))
          .select(col("bucket"),
            expr("(1000000L * (cnt_t + 1)) DIV (cnt_r + 1)").as("ratio_fp"))
        db.join(broadcast(ratio), Seq("bucket"))
          .groupBy("doc_id", "source")
          .agg(sum("n").as("n_bigrams"),
            sum(col("n") * col("ratio_fp")).as("score_fp"))
          .orderBy(col("score_fp").desc, col("doc_id").asc)
          .limit(32)
      },
      Some("""WITH tk AS (SELECT doc_id, source, str_split(text, ' ') AS ws
             |            FROM documents),
             |bg AS (
             |  SELECT doc_id, source,
             |    (('0x' || substr(md5(ws[i] || ' ' || ws[i+1]), 1, 15))
             |      ::BIGINT % 4096) AS bucket
             |  FROM (SELECT doc_id, source, ws,
             |          unnest(range(1, len(ws))) AS i FROM tk)),
             |db AS (SELECT doc_id, source, bucket,
             |         CAST(count(*) AS BIGINT) AS n
             |       FROM bg GROUP BY 1, 2, 3),
             |marg AS (
             |  SELECT bucket, CAST(sum(n) AS BIGINT) AS cnt_r,
             |    CAST(sum(CASE WHEN source = 'src0' THEN n ELSE 0 END)
             |      AS BIGINT) AS cnt_t
             |  FROM db GROUP BY 1),
             |ratio AS (SELECT bucket,
             |    CAST((1000000 * (cnt_t + 1)) // (cnt_r + 1) AS BIGINT)
             |      AS ratio_fp
             |  FROM marg)
             |SELECT db.doc_id, any_value(db.source) AS source,
             |  CAST(sum(db.n) AS BIGINT) AS n_bigrams,
             |  CAST(sum(db.n * r.ratio_fp) AS BIGINT) AS score_fp
             |FROM db JOIN ratio r ON r.bucket = db.bucket
             |GROUP BY db.doc_id
             |ORDER BY score_fp DESC, doc_id ASC LIMIT 32""".stripMargin)),

    // X53 length-bucketed padding efficiency — the batching audit run
    // before fixing a training batch shape: docs are padded up to their
    // length bucket's capacity (power-of-two caps 32..512, then 1024-
    // multiples), and the report is per-bucket doc/token volume plus the
    // padding waste as exact ppm fixed point. High waste in a bucket =
    // re-cut the bucket edges or pack multiple docs per sequence (q86);
    // this is the measurement that decision consults.
    // Scale shape: the cap is a map-side CASE over the token count; one
    // partial+final agg over ≤ a dozen buckets — a single corpus scan
    // pruned to `text`, one bucket-sized exchange, nothing else.
    Q("q141_padding_efficiency",
      (s, d) => documents(s, d)
        .select(size(split(col("text"), " ")).cast("long").as("n_tok"))
        .withColumn("cap", expr(
          "CASE WHEN n_tok <= 32 THEN 32L WHEN n_tok <= 64 THEN 64L " +
            "WHEN n_tok <= 128 THEN 128L WHEN n_tok <= 256 THEN 256L " +
            "WHEN n_tok <= 512 THEN 512L " +
            "ELSE ((n_tok + 1023L) DIV 1024L) * 1024L END"))
        .groupBy("cap")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("sum_tok"))
        .withColumn("padded_tok", col("cap") * col("n_docs"))
        .withColumn("waste_ppm",
          expr("(1000000L * (padded_tok - sum_tok)) DIV padded_tok"))
        .orderBy("cap"),
      Some("""WITH t AS (
             |  SELECT CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tok
             |  FROM documents),
             |c AS (
             |  SELECT n_tok,
             |    CAST(CASE WHEN n_tok <= 32 THEN 32
             |      WHEN n_tok <= 64 THEN 64 WHEN n_tok <= 128 THEN 128
             |      WHEN n_tok <= 256 THEN 256 WHEN n_tok <= 512 THEN 512
             |      ELSE ((n_tok + 1023) // 1024) * 1024 END AS BIGINT)
             |      AS cap
             |  FROM t),
             |g AS (
             |  SELECT cap, CAST(count(*) AS BIGINT) AS n_docs,
             |         CAST(sum(n_tok) AS BIGINT) AS sum_tok
             |  FROM c GROUP BY cap)
             |SELECT cap, n_docs, sum_tok,
             |  CAST(cap * n_docs AS BIGINT) AS padded_tok,
             |  CAST((1000000 * (cap * n_docs - sum_tok)) // (cap * n_docs)
             |    AS BIGINT) AS waste_ppm
             |FROM g ORDER BY cap""".stripMargin)),

    // X54 quality-filter yield curve — the threshold sweep a curation run
    // consults before fixing a quality cutoff: bucket every doc by its
    // fixed-point quality score (q138's exact formula, 0.1-wide bins) and
    // report, per candidate threshold (bin lower bound), the docs and
    // tokens that SURVIVE a filter at that threshold (cumulative from the
    // top bin down) plus the surviving token fraction as exact ppm. The
    // trade-off curve — "cut at 0.5 keeps 62% of tokens" — read directly
    // off the result.
    // Scale shape: score + bin are map-side; one partial+final agg to ~10
    // bins; the bin table is cut so the un-partitioned cumulative
    // windows provably read a bin-sized scan (PlanSpec's window gate),
    // never docs.
    Q("q142_quality_yield",
      (s, d) => {
        // fanOut: the quality fingerprint's regexp_replace over full text
        // is per-row-heavy (r17 sf1: serial scan task)
        val qd = fanOut(documents(s, d)).select(
          size(split(col("text"), " ")).cast("long").as("n_tok"),
          floor(lit(1e6) *
            (least(size(split(col("text"), " ")).cast("double") / 100.0,
              lit(1.0)) * 0.5 +
             length(regexp_replace(col("text"), "[^a-z]", ""))
               .cast("double") / length(col("text")) * 0.5)).as("q_fp"))
          .withColumn("bin", expr("q_fp DIV 100000L"))
        val wCum = Window.orderBy(col("bin").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.orderBy(col("bin").desc)
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        qd.groupBy("bin")
          .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("bin_tok"))
          .transform(Materialize.cut)
          .withColumn("thr_ppm", (col("bin") * 100000L).cast("long"))
          .withColumn("cum_docs", sum("n_docs").over(wCum))
          .withColumn("cum_tok", sum("bin_tok").over(wCum))
          .withColumn("total_tok", sum("bin_tok").over(wAll))
          .withColumn("kept_tok_ppm",
            expr("(1000000L * cum_tok) DIV total_tok"))
          .select("thr_ppm", "n_docs", "bin_tok", "cum_docs", "cum_tok",
            "kept_tok_ppm")
          .orderBy("thr_ppm")
      },
      Some {
        val qFp = "CAST(floor(1e6 * (" +
          "least(CAST(len(str_split(text, ' ')) AS DOUBLE) / 100.0, 1.0)" +
          " * 0.5 + (CAST(length(regexp_replace(text, '[^a-z]', '', 'g'))" +
          " AS DOUBLE) / length(text)) * 0.5)) AS BIGINT)"
        s"""WITH qd AS (
           |  SELECT CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tok,
           |         $qFp AS q_fp
           |  FROM documents),
           |g AS (
           |  SELECT q_fp // 100000 AS bin,
           |         CAST(count(*) AS BIGINT) AS n_docs,
           |         CAST(sum(n_tok) AS BIGINT) AS bin_tok
           |  FROM qd GROUP BY 1),
           |c AS (
           |  SELECT bin, n_docs, bin_tok,
           |    CAST(sum(n_docs) OVER (ORDER BY bin DESC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |      AS BIGINT) AS cum_docs,
           |    CAST(sum(bin_tok) OVER (ORDER BY bin DESC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |      AS BIGINT) AS cum_tok,
           |    CAST(sum(bin_tok) OVER () AS BIGINT) AS total_tok
           |  FROM g)
           |SELECT CAST(bin * 100000 AS BIGINT) AS thr_ppm, n_docs,
           |  bin_tok, cum_docs, cum_tok,
           |  CAST((1000000 * cum_tok) // total_tok AS BIGINT)
           |    AS kept_tok_ppm
           |FROM c ORDER BY thr_ppm""".stripMargin
      }),

    // X55 leakage-safe cluster-aware split — the FIX for what q128's
    // audit detects: split assignment at near-dup CLUSTER granularity
    // (every member of a cluster hashes to the same split, so near-
    // duplicate pairs can never straddle train/val/test; the remedy
    // Dodge et al. 2021 imply). The split rule is X11's deterministic
    // content-hash bucket applied to the CLUSTER label — reproducible,
    // point-answerable per doc given its label.
    // Scale shape: labels come from the PERSISTED index
    // (DedupPipeline.cachedFold — no closure rebuild, plan-gated); one
    // narrow labels join + a pure-function split column; the rollup is a
    // partial agg over 3 groups with a two-phase distinct-cluster count.
    // `CurationInvariantSpec` proves the guarantee: the q128 audit run
    // against THIS split finds zero straddling pairs.
    Q("q143_cluster_safe_split",
      (s, d) => {
        val docs = documents(s, d)
        val labels =
          graft.pipelines.DedupPipeline.cachedFold(s, d).labels
        val b = pmod(Scalars.tokenHash(
          concat(lit("csplit:"), col("cluster").cast("string"))), lit(100L))
        docs.join(labels, docs("doc_id") === labels("v"), "left")
          .withColumn("cluster", coalesce(col("component"), col("doc_id")))
          .withColumn("split",
            when(b < 80, "train").when(b < 90, "val").otherwise("test"))
          .groupBy("split")
          .agg(count(lit(1)).as("n_docs"),
            sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
            countDistinct("cluster").as("n_clusters"))
          .orderBy("split")
      },
      Some {
        val bucket = "(('0x' || substr(md5('csplit:' || " +
          "CAST(cluster AS VARCHAR)), 1, 15))::BIGINT % 100)"
        s"""WITH RECURSIVE
           |${QueriesText.closureSqlCtes},
           |lab AS (
           |  SELECT d.doc_id, d.text,
           |         coalesce(c.component, d.doc_id) AS cluster
           |  FROM documents d LEFT JOIN comp c ON c.v = d.doc_id),
           |sp AS (
           |  SELECT text, cluster,
           |    CASE WHEN $bucket < 80 THEN 'train'
           |         WHEN $bucket < 90 THEN 'val'
           |         ELSE 'test' END AS split
           |  FROM lab)
           |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS n_tokens,
           |  CAST(count(DISTINCT cluster) AS BIGINT) AS n_clusters
           |FROM sp GROUP BY split ORDER BY split""".stripMargin
      }),

    // X59 source-vs-corpus distribution drift audit — the monitoring pass
    // a continuously-ingested corpus runs per snapshot/source: how far does
    // each source's document-length distribution sit from the corpus-wide
    // one? Distance is TOTAL VARIATION — unlike KL/PSI it needs no log()
    // (IEEE transcendental ⇒ last-ulp cross-engine divergence), so the
    // whole audit is EXACT integer arithmetic: docs bucket by token count
    // (8-token bins capped at 24 — bounded bucket catalog), and per source
    //   tvd_ppm = 1e6 · Σ_b |n_sb·n − n_b·n_s| DIV (2·n_s·n)
    // over the FULL bucket catalog (a source missing a bucket contributes
    // its full corpus mass — the cross join below makes absent cells
    // explicit; magnitudes stay < 2^63 at any corpus: counts are ≤ n and
    // the products are n_sb·n ≤ n², fine to ~3·10^9 docs/source — chunk
    // the audit per shard family beyond that).
    // Scale shape: ONE corpus scan, map-side bucket, one partial+final agg
    // to the (source × bucket)-bounded cell table, cut: the grid's
    // joins infer distinct filters, so its consumers share no exchange;
    // every marginal and the TVD arithmetic run over that constant-size
    // table — sources×buckets rows — never over docs.
    Q("q148_drift_audit",
      (s, d) => driftFromCells(
        lengthCells(documents(s, d)).transform(Materialize.cut)),
      Some("""WITH cells AS (
             |  SELECT source,
             |    least(CAST(len(str_split(text, ' ')) AS BIGINT) // 8, 24)
             |      AS bucket,
             |    CAST(count(*) AS BIGINT) AS n_sb
             |  FROM documents GROUP BY 1, 2),
             |ns AS (SELECT source, CAST(sum(n_sb) AS BIGINT) AS n_s
             |       FROM cells GROUP BY 1),
             |nb AS (SELECT bucket, CAST(sum(n_sb) AS BIGINT) AS n_b
             |       FROM cells GROUP BY 1),
             |n AS (SELECT CAST(sum(n_sb) AS BIGINT) AS n FROM cells),
             |grid AS (
             |  SELECT ns.source, nb.bucket, ns.n_s, nb.n_b,
             |    CAST(coalesce(c.n_sb, 0) AS BIGINT) AS n_sb
             |  FROM ns CROSS JOIN nb
             |  LEFT JOIN cells c
             |    ON c.source = ns.source AND c.bucket = nb.bucket)
             |SELECT g.source, CAST(max(g.n_s) AS BIGINT) AS n_docs,
             |  CAST((1000000 * sum(abs(g.n_sb * n.n - g.n_b * g.n_s)))
             |    // (2 * max(g.n_s) * max(n.n)) AS BIGINT) AS tvd_ppm
             |FROM grid g CROSS JOIN n
             |GROUP BY g.source ORDER BY g.source""".stripMargin)),

    // X63 corpus snapshot diff — the refresh report a crawl-ops team
    // reads after every re-crawl (and the decision input for q91's
    // upsert and q148's drift monitor): per source, documents added /
    // removed / changed / unchanged between two snapshots plus churn as
    // exact ppm of the prior snapshot. Change detection is CONTENT-HASH
    // equality (sha2-256), never text comparison — the id join carries
    // 32-byte hashes, text never leaves the scan. Stand-in next
    // snapshot (q91's synthesized-batch precedent): doc_id % 10 = 3
    // decays out, % 7 = 0 re-crawls with changed content, % 13 = 0
    // additionally surfaces a NEW discovery (id + 1e10 — beyond any
    // scaled id range), everything else re-crawls binary-identical.
    // Scale shape: one full-outer join on the 8-byte doc_id over narrow
    // (id, source, hash) projections — co-partitionable with the
    // snapshot layout at 100 TB; states are map-side CASE over the
    // joined row; the report is one partial+final agg to sources-many
    // groups.
    Q("q151_snapshot_diff",
      (s, d) => {
        val a = documents(s, d).select(col("doc_id"), col("source"),
          sha2(col("text"), 256).as("ha"))
        val base = documents(s, d)
        val b = base.filter(col("doc_id") % 10 =!= 3)
          .select(col("doc_id"), col("source"),
            when(col("doc_id") % 7 === 0,
              sha2(concat(col("text"), lit(" u")), 256))
              .otherwise(sha2(col("text"), 256)).as("hb"))
          .unionByName(base.filter(col("doc_id") % 13 === 0)
            .select((col("doc_id") + 10000000000L).as("doc_id"),
              col("source"),
              sha2(concat(lit("new "), col("text")), 256).as("hb")))
        a.join(b, Seq("doc_id"), "full_outer")
          .select(coalesce(a("source"), b("source")).as("source"),
            when(col("ha").isNull, "added")
              .when(col("hb").isNull, "removed")
              .when(col("ha") === col("hb"), "unchanged")
              .otherwise("changed").as("state"))
          .groupBy("source")
          .agg(
            sum(when(col("state") === "added", 1L).otherwise(0L))
              .as("n_added"),
            sum(when(col("state") === "removed", 1L).otherwise(0L))
              .as("n_removed"),
            sum(when(col("state") === "changed", 1L).otherwise(0L))
              .as("n_changed"),
            sum(when(col("state") === "unchanged", 1L).otherwise(0L))
              .as("n_unchanged"))
          .withColumn("churn_ppm", expr(
            "(1000000L * (n_added + n_removed + n_changed)) DIV " +
              "(n_removed + n_changed + n_unchanged)"))
          .select("source", "n_added", "n_removed", "n_changed",
            "n_unchanged", "churn_ppm")
          .orderBy("source")
      },
      Some("""WITH st AS (
             |  SELECT source,
             |    CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END AS is_added,
             |    CASE WHEN doc_id % 10 = 3 THEN 1 ELSE 0 END AS is_removed,
             |    CASE WHEN doc_id % 10 <> 3 AND doc_id % 7 = 0 THEN 1
             |      ELSE 0 END AS is_changed,
             |    CASE WHEN doc_id % 10 <> 3 AND doc_id % 7 <> 0 THEN 1
             |      ELSE 0 END AS is_unchanged
             |  FROM documents),
             |g AS (
             |  SELECT source,
             |    CAST(sum(is_added) AS BIGINT) AS n_added,
             |    CAST(sum(is_removed) AS BIGINT) AS n_removed,
             |    CAST(sum(is_changed) AS BIGINT) AS n_changed,
             |    CAST(sum(is_unchanged) AS BIGINT) AS n_unchanged
             |  FROM st GROUP BY source)
             |SELECT source, n_added, n_removed, n_changed, n_unchanged,
             |  CAST((1000000 * (n_added + n_removed + n_changed)) //
             |    (n_removed + n_changed + n_unchanged) AS BIGINT)
             |    AS churn_ppm
             |FROM g ORDER BY source""".stripMargin)),

    // X17 incremental corpus upsert — latest-version-wins per doc_id (the
    // relational form of ClickHouse ReplacingMergeTree / SCD-1: a re-crawl
    // batch replaces prior versions of the same document). Stand-in update
    // batch: every doc_id % 10 = 0 re-arrives as version 2 with +37 chars.
    // rn=1 over (doc_id, version desc) is WindowGroupLimit-pruned map-side,
    // so the merge shuffles one surviving candidate per (partition, key) —
    // at 100 TB the upsert cost tracks the update batch, not the corpus.
    Q("q91_corpus_upsert",
      (s, d) => {
        val base = documents(s, d)
          .select(col("doc_id"), col("lang"), col("n_chars"),
            lit(1L).as("version"))
        val updates = documents(s, d)
          .filter(col("doc_id") % 10 === 0)
          .select(col("doc_id"), col("lang"),
            (col("n_chars") + 37L).as("n_chars"), lit(2L).as("version"))
        val w = Window.partitionBy("doc_id").orderBy(col("version").desc)
        base.unionByName(updates)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
          .orderBy("lang")
      },
      Some("""WITH u AS (
             |  SELECT doc_id, lang, n_chars, 1 AS version FROM documents
             |  UNION ALL
             |  SELECT doc_id, lang, n_chars + 37, 2 FROM documents
             |  WHERE doc_id % 10 = 0),
             |r AS (
             |  SELECT *, row_number() OVER (
             |    PARTITION BY doc_id ORDER BY version DESC) AS rn
             |  FROM u)
             |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM r WHERE rn = 1 GROUP BY lang ORDER BY lang""".stripMargin)),

    // X23 PII masking + k-anonymity audit: redact the identifying digits
    // of customer names (keep the last 2 for support lookups — the
    // classic partial-mask), then verify the masked view is k-anonymous:
    // every surviving masked value must cover ≥ k real customers. Pure
    // row-local regexp_replace with a capture-group backreference —
    // codegen'd, no shuffle beyond the audit groupBy; at 100 TB the mask
    // itself is a map-only pass and the audit is one partial+final agg.
    // (Spark backrefs are $2, DuckDB's RE2 wants \2 — each side speaks
    // its own dialect below; same single-occurrence pattern, so Spark's
    // replace-all vs DuckDB's replace-first cannot diverge.)
    Q("q105_pii_mask",
      (s, d) => customer(s, d)
        .withColumn("masked_name",
          regexp_replace(col("c_name"),
            "#([0-9]{7})([0-9]{2})", "#*******$2"))
        .groupBy("masked_name")
        .agg(count(lit(1)).as("n_customers"),
          min("c_custkey").as("min_key"))
        .withColumn("k_anonymous", col("n_customers") >= 5)
        .orderBy("masked_name"),
      Some("""SELECT regexp_replace(c_name,
             |    '#([0-9]{7})([0-9]{2})', '#*******\2') AS masked_name,
             |  CAST(count(*) AS BIGINT) AS n_customers,
             |  min(c_custkey) AS min_key,
             |  count(*) >= 5 AS k_anonymous
             |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin)),

    // X25 SCD-2 history construction — q91's latest-wins (SCD-1) keeps
    // only the survivor; type-2 keeps EVERY version with a validity
    // interval [version, valid_to) so any historical state can be
    // queried. The interval close is `lead(version)` over (key, version
    // asc) — one window per key partition, no self-join of history
    // against itself (the O(versions²) trap). Same stand-in update
    // batch as q91 (doc_id % 10 = 0 re-arrives as v2); dump restricted
    // to the multi-version keys (% 100 = 0 slice) with a total order.
    Q("q109_scd2_history",
      (s, d) => {
        val base = documents(s, d)
          .select(col("doc_id"), col("n_chars"), lit(1L).as("version"))
        val updates = documents(s, d)
          .filter(col("doc_id") % 10 === 0)
          .select(col("doc_id"), (col("n_chars") + 37L).as("n_chars"),
            lit(2L).as("version"))
        val w = Window.partitionBy("doc_id").orderBy(col("version").asc)
        base.unionByName(updates)
          .withColumn("valid_to", lead(col("version"), 1).over(w))
          .withColumn("is_current", col("valid_to").isNull)
          .filter(col("doc_id") % 100 === 0)
          .select(col("doc_id"), col("version"), col("n_chars"),
            col("valid_to"), col("is_current"))
          .orderBy("doc_id", "version")
      },
      Some("""WITH u AS (
             |  SELECT doc_id, n_chars, CAST(1 AS BIGINT) AS version
             |  FROM documents
             |  UNION ALL
             |  SELECT doc_id, n_chars + 37, 2 FROM documents
             |  WHERE doc_id % 10 = 0),
             |h AS (
             |  SELECT doc_id, version, n_chars,
             |    lead(version) OVER (PARTITION BY doc_id
             |      ORDER BY version ASC) AS valid_to
             |  FROM u)
             |SELECT doc_id, version, n_chars, valid_to,
             |  valid_to IS NULL AS is_current
             |FROM h WHERE doc_id % 100 = 0
             |ORDER BY doc_id, version""".stripMargin)),

    // X33 deterministic epoch shuffle — the training-order artifact every
    // LLM run derives per epoch: a seeded content-hash order over the
    // corpus, cut round-robin into K=8 exactly-balanced shards with a
    // within-shard position. Content-hash seeding makes it reproducible
    // (same order every run, any partitioning, any engine — rand() is
    // neither) and re-seedable per epoch (ep0/ep1 orders are independent).
    // The global rank comes from the distributed prefix sum (GlobalRank,
    // q86's primitive): range partition on the order key + per-partition
    // offsets — NO global window, no single-task sort at any corpus size.
    // The order is (h mod 2^31, doc_id): ordering by the bare hash would
    // be nondeterministic under hash ties — invisible at small sf, a
    // silent cross-engine divergence at corpus scale.
    Q("q121_epoch_shuffle",
      (s, d) => {
        val docs = documents(s, d).select(col("doc_id"))
        def one(e: Int): org.apache.spark.sql.DataFrame = {
          // h is a column, so the sort compares longs and never re-hashes
          val keyed = docs.withColumn("h", pmod(Scalars.tokenHash(
            concat(lit(s"ep$e-"), col("doc_id").cast("string"))),
            lit(1L << 31)))
          GlobalRank.prefixSum(keyed, Nil, Seq(col("h"), col("doc_id")),
              lit(1L))._1
            .select(lit(e).as("epoch"), col("doc_id"),
              (col("before") % lit(8L)).as("shard"),
              Scalars.longDiv("before", 8L).as("pos"))
        }
        one(0).union(one(1)).orderBy("epoch", "doc_id")
      },
      Some("""WITH e AS (SELECT 0 AS epoch UNION ALL SELECT 1),
             |k AS (SELECT e.epoch, d.doc_id,
             |        (('0x' || substr(md5('ep' ||
             |           CAST(e.epoch AS VARCHAR) || '-' ||
             |           CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
             |         % 2147483648) AS h
             |      FROM documents d CROSS JOIN e),
             |r AS (SELECT epoch, doc_id,
             |        row_number() OVER (PARTITION BY epoch
             |          ORDER BY h, doc_id) - 1 AS rnk
             |      FROM k)
             |SELECT CAST(epoch AS INT) AS epoch, doc_id,
             |       CAST(rnk % 8 AS BIGINT) AS shard,
             |       CAST(rnk // 8 AS BIGINT) AS pos
             |FROM r ORDER BY epoch, doc_id""".stripMargin)),

    // X39 sliding context-window chunking — the step that turns a cleaned
    // corpus into fixed-context training sequences: window W=64 tokens,
    // stride S=48 (16-token overlap so no span is ever split across a
    // chunk boundary unseen). Declared rule: chunk starts are
    // sequence(1, max(n - overlap, 1), S) — every token covered, the last
    // chunk possibly short, a doc shorter than W yielding exactly one
    // chunk. chunk_id derives arithmetically from the start ((start-1)/S)
    // so neither engine needs a positional explode. Each chunk carries a
    // 60-bit content fingerprint (Scalars.tokenHash of the joined text,
    // replayable in DuckDB) — the key downstream chunk-level exact dedup
    // joins on, so provenance (doc_id, start_tok) plus fp IS the chunk
    // table a 100 TB pipeline materializes.
    // Scale: pure map-side explode — zero shuffles before the output
    // sort; chunking parallelizes per input split, and the fingerprint
    // keeps the emitted rows narrow (no chunk text in the output).
    Q("q127_context_chunks",
      // size-adaptive fanOut at the call site (contextChunks itself stays
      // the layout-neutral streaming-shared transform): one md5 per CHUNK
      // (1/48th of the token stream) is moderate per-row work — the
      // exchange pays off at sf1 (0.87 -> 0.59 floor) but costs more than
      // it spreads at sf0.1 (0.21 -> 0.42, r17 closing run 1)
      (s, d) => contextChunks(fanOutOver(documents(s, d)))
        .orderBy("doc_id", "chunk_id"),
      Some("""WITH t AS (
             |  SELECT doc_id, str_split(text, ' ') AS t,
             |         len(str_split(text, ' ')) AS n FROM documents),
             |ch AS (
             |  SELECT doc_id, t, n,
             |    unnest(range(1, greatest(n - 16, 1) + 1, 48)) AS start_tok
             |  FROM t),
             |c2 AS (
             |  SELECT doc_id, n, start_tok,
             |    array_to_string(t[start_tok : start_tok + 63], ' ') AS chunk
             |  FROM ch)
             |SELECT doc_id,
             |  CAST((start_tok - 1) // 48 AS INT) AS chunk_id,
             |  CAST(start_tok AS BIGINT) AS start_tok,
             |  CAST(least(64, n - start_tok + 1) AS BIGINT) AS n_tok,
             |  ('0x' || substr(md5(chunk), 1, 15))::BIGINT AS fp
             |FROM c2 ORDER BY doc_id, chunk_id""".stripMargin)),

    // X41 chunk-granularity duplication rate — the boilerplate-fraction
    // signal (RefinedWeb/FineWeb curation): a chunk is "duplicated" when
    // its exact content fingerprint occurs ≥2 times CORPUS-WIDE (headers,
    // footers, templated spans — invisible to doc-level dedup because the
    // containing docs differ). Per source: chunk count, duplicated-chunk
    // count, and the rate as an exact parts-per-million fixed point
    // (integer DIV — no IEEE division in a declared result).
    // Scale: X39's map-side chunker (source carried through the explode —
    // no doc join) runs ONCE; the corpus-wide occurrence count is a
    // window over the 8-byte fp (tiny partitions, narrow (source, fp)
    // rows through ONE exchange), then a partial-agg rollup over
    // `sources`-many groups. The agg+join alternative re-derives the
    // chunk table on the count side (two md5 passes over the corpus) and
    // its fp-count table is chunk-corpus-sized — not broadcastable at
    // 100 TB; the window form is strictly one chunk pass, one shuffle.
    Q("q129_chunk_dup_rate",
      (s, d) => {
        val ch = contextChunks(documents(s, d), Seq("source"))
          .select(col("source"), col("fp"))
        val cnt = count(lit(1)).over(Window.partitionBy("fp"))
        ch.withColumn("cnt", cnt)
          .groupBy("source")
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("cnt") >= 2, 1L).otherwise(0L))
              .as("dup_chunks"))
          .withColumn("dup_ppm",
            expr("(1000000 * dup_chunks) DIV n_chunks"))
          .orderBy("source")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, source, str_split(text, ' ') AS t,
             |         len(str_split(text, ' ')) AS n FROM documents),
             |ch AS (
             |  SELECT source,
             |    unnest(range(1, greatest(n - 16, 1) + 1, 48)) AS start_tok,
             |    t FROM t),
             |c2 AS (
             |  SELECT source, ('0x' || substr(md5(
             |      array_to_string(t[start_tok : start_tok + 63], ' ')),
             |      1, 15))::BIGINT AS fp
             |  FROM ch),
             |c3 AS (
             |  SELECT source, count(*) OVER (PARTITION BY fp) AS cnt
             |  FROM c2)
             |SELECT source,
             |  CAST(count(*) AS BIGINT) AS n_chunks,
             |  CAST(sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS dup_chunks,
             |  CAST((1000000 * sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END))
             |    // count(*) AS BIGINT) AS dup_ppm
             |FROM c3 GROUP BY source ORDER BY source""".stripMargin)),

    // X42 exact substring dedup (Lee et al. 2022, "Deduplicating Training
    // Data Makes Language Models Better" — the ExactSubstr operator):
    // any 8-token window whose exact content recurs ANYWHERE in the
    // corpus is boilerplate; every occurrence after the first (global
    // order: doc_id, then position) is removed TOKEN-WISE, and each doc
    // is reassembled from its surviving tokens. This is the stride-1,
    // token-granular member of the dedup family — q97 removes fixed
    // 16-token tiles, q127/q129 fingerprint stride-48 chunks; here EVERY
    // position starts a window, so a duplicated span is caught at any
    // alignment (the suffix-array semantics of the paper, relationally).
    // Pipeline: window fingerprints (rolling-hash family, replayable
    // md5 fixed point) → first-occurrence-keep window over fp (q97's
    // rank-1 shape) → dup windows explode to covered positions (cost
    // tracks DUPLICATION DENSITY, not corpus size) → left join marks
    // tokens → per-doc reassembly (q97's collect+sort form).
    // Scale: one shuffle on the 8-byte fp (narrow rows, never text), one
    // on doc_id for reassembly; nothing pairwise, no corpus-sized
    // broadcast. fanOut before the stride-1 explode+md5 stage (local
    // single-row-group files otherwise serialize the hashing into one
    // task). The dup-position explode is ≤8 rows per duplicated window —
    // bounded by 8·dup_windows, a duplication-rate fraction of the
    // corpus at 100 TB.
    Q("q130_substring_dedup",
      (s, d) => {
        val toks = fanOut(documents(s, d))
          .select(col("doc_id"), split(col("text"), " ").as("t"))
          .withColumn("n", size(col("t")))
        val wins = toks
          .select(col("doc_id"), col("t"), col("n"),
            explode(expr("sequence(1, greatest(n - 7, 1))")).as("start"))
          .select(col("doc_id"), col("n"), col("start"),
            Scalars.tokenHash(
              concat_ws(" ", slice(col("t"), col("start"), lit(8))))
              .as("fp"))
        val wFirst = Window.partitionBy("fp").orderBy("doc_id", "start")
        // r17 (guide §2.3/§1.2): dup positions contract to ONE sorted
        // array per doc (collect_set dedups, so the separate distinct
        // exchange is gone), and the reassembly runs MAP-SIDE over the
        // per-doc token array the scan already carries — the old form
        // exploded the whole token stream, probed every token through a
        // join, and re-collected + sorted 100% of the corpus tokens per
        // doc in an ObjectHashAggregate. Shuffled bytes now: dup-doc
        // position arrays only, never the token stream.
        val dupPos = wins
          .withColumn("rn", row_number().over(wFirst))
          .filter(col("rn") >= 2)
          .select(col("doc_id"),
            explode(expr("sequence(start, least(start + 7, n))"))
              .as("pos"))
          .groupBy("doc_id")
          .agg(sort_array(collect_set(col("pos"))).as("dups"))
        toks
          .join(dupPos, Seq("doc_id"), "left")
          .withColumn("dups",
            coalesce(col("dups"), typedLit(Array.empty[Int])))
          .select(col("doc_id"),
            size(col("t")).cast("long").as("n_tok"),
            size(col("dups")).cast("long").as("dup_tok"),
            expr("array_join(filter(t, (x, i) -> " +
              "NOT array_contains(dups, i + 1)), ' ')").as("text_dedup"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, str_split(text, ' ') AS t,
             |         len(str_split(text, ' ')) AS n FROM documents),
             |w AS (
             |  SELECT doc_id, t, n,
             |    unnest(range(1, greatest(n - 7, 1) + 1)) AS start FROM t),
             |f AS (
             |  SELECT doc_id, n, start,
             |    ('0x' || substr(md5(
             |      array_to_string(t[start : start + 7], ' ')),
             |      1, 15))::BIGINT AS fp
             |  FROM w),
             |r AS (
             |  SELECT doc_id, n, start,
             |    row_number() OVER (PARTITION BY fp
             |      ORDER BY doc_id, start) AS rn
             |  FROM f),
             |dp AS (
             |  SELECT DISTINCT doc_id,
             |    unnest(range(start, least(start + 8, n + 1))) AS pos
             |  FROM r WHERE rn >= 2),
             |tp AS (
             |  SELECT doc_id, i AS pos, t[i] AS tok
             |  FROM t, unnest(range(1, n + 1)) AS u(i)),
             |m AS (
             |  SELECT tp.doc_id, tp.pos, tp.tok,
             |    (dp.pos IS NOT NULL) AS dup
             |  FROM tp LEFT JOIN dp
             |    ON tp.doc_id = dp.doc_id AND tp.pos = dp.pos)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
             |  CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT)
             |    AS dup_tok,
             |  coalesce(string_agg(CASE WHEN NOT dup THEN tok END,
             |    ' ' ORDER BY pos), '') AS text_dedup
             |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // X67 filter-cascade funnel — the ablation table a curation team
    // reads before shipping a filter chain (the per-filter removal
    // accounting of web-corpus pipeline reports): an ORDERED cascade of
    // five deterministic document filters (language keep, minimum
    // length, alphabetic ratio, distinct-word ratio, composite quality),
    // reporting per stage the docs entering, removed, surviving, the
    // stage's marginal removal rate, and cumulative survival — both as
    // exact ppm. Marginal rates are ORDER-dependent (that is the point:
    // stage k only sees stage k-1's survivors), so the cascade order is
    // part of the declared semantics. Thresholds are exact integer
    // comparisons on 1e6 fixed-point ratios (floor of identical IEEE
    // doubles both engines — the X50 convention).
    // Scale shape: the five pass-flags are map-side over ONE corpus
    // scan; the funnel is ONE partial+final agg to a single row of six
    // conjunction counters (sum of CASE — no per-stage scan, no join, no
    // window); the 5-row report explodes from that row. Nothing here
    // grows with corpus size except the one scan.
    Q("q157_filter_funnel",
      (s, d) => {
        val nw = size(split(col("text"), " ")).cast("double")
        val ar = length(regexp_replace(col("text"), "[^a-z]", ""))
          .cast("double") / length(col("text"))
        // fanOut: the five flag projections (two regexp_replace passes
        // over full text) are per-row-heavy (r17 sf1: 1.0 s serial)
        val t = fanOut(documents(s, d)).select(
          (col("lang") === "en").as("p1"),
          (size(split(col("text"), " ")) >= 30).as("p2"),
          (floor(lit(1e6) * ar) >= 810000L).as("p3"),
          (floor(lit(1e6) *
            (size(array_distinct(split(col("text"), " "))).cast("double") /
              size(split(col("text"), " ")))) >= 400000L).as("p4"),
          (floor(lit(1e6) * (least(nw / 100.0, lit(1.0)) * 0.5 +
            ar * 0.5)) >= 600000L).as("p5"))
        def surv(ps: Seq[String]): org.apache.spark.sql.Column =
          sum(when(ps.map(col).reduce(_ && _), 1L).otherwise(0L))
        val a = t.agg(count(lit(1)).as("n0"),
          surv(Seq("p1")).as("n1"),
          surv(Seq("p1", "p2")).as("n2"),
          surv(Seq("p1", "p2", "p3")).as("n3"),
          surv(Seq("p1", "p2", "p3", "p4")).as("n4"),
          surv(Seq("p1", "p2", "p3", "p4", "p5")).as("n5"))
        def st(k: Int, nm: String, nin: String, nout: String) =
          struct(lit(k).as("stage"), lit(nm).as("fname"),
            col(nin).as("n_in"), col(nout).as("n_out"))
        a.select(col("n0"), explode(array(
            st(1, "lang_en", "n0", "n1"),
            st(2, "min_words_30", "n1", "n2"),
            st(3, "alpha_ratio_081", "n2", "n3"),
            st(4, "distinct_ratio_040", "n3", "n4"),
            st(5, "quality_060", "n4", "n5"))).as("f"))
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
      },
      Some("""WITH t AS (
             |  SELECT (lang = 'en') AS p1,
             |    (len(str_split(text, ' ')) >= 30) AS p2,
             |    (floor(1e6 * (CAST(length(regexp_replace(text,
             |      '[^a-z]', '', 'g')) AS DOUBLE) / length(text)))
             |      >= 810000) AS p3,
             |    (floor(1e6 * (CAST(len(list_distinct(str_split(text,
             |      ' '))) AS DOUBLE) / len(str_split(text, ' '))))
             |      >= 400000) AS p4,
             |    (floor(1e6 * (least(CAST(len(str_split(text, ' '))
             |        AS DOUBLE) / 100.0, 1.0) * 0.5 +
             |      CAST(length(regexp_replace(text, '[^a-z]', '', 'g'))
             |        AS DOUBLE) / length(text) * 0.5)) >= 600000) AS p5
             |  FROM documents),
             |a AS (SELECT CAST(count(*) AS BIGINT) AS n0,
             |  CAST(sum(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             |  CAST(sum(CASE WHEN p1 AND p2 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n2,
             |  CAST(sum(CASE WHEN p1 AND p2 AND p3 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n3,
             |  CAST(sum(CASE WHEN p1 AND p2 AND p3 AND p4 THEN 1 ELSE 0
             |    END) AS BIGINT) AS n4,
             |  CAST(sum(CASE WHEN p1 AND p2 AND p3 AND p4 AND p5 THEN 1
             |    ELSE 0 END) AS BIGINT) AS n5
             | FROM t),
             |f AS (
             |  SELECT 1 AS stage, 'lang_en' AS fname, n0 AS n_in,
             |    n1 AS n_out, n0 FROM a
             |  UNION ALL SELECT 2, 'min_words_30', n1, n2, n0 FROM a
             |  UNION ALL SELECT 3, 'alpha_ratio_081', n2, n3, n0 FROM a
             |  UNION ALL SELECT 4, 'distinct_ratio_040', n3, n4, n0 FROM a
             |  UNION ALL SELECT 5, 'quality_060', n4, n5, n0 FROM a)
             |SELECT CAST(stage AS INT) AS stage, fname, n_in,
             |  n_in - n_out AS n_removed, n_out,
             |  CAST(CASE WHEN n_in = 0 THEN 0
             |    ELSE (1000000 * (n_in - n_out)) // n_in END AS BIGINT)
             |    AS removed_ppm,
             |  CAST(CASE WHEN n0 = 0 THEN 0
             |    ELSE (1000000 * n_out) // n0 END AS BIGINT)
             |    AS survive_ppm
             |FROM f ORDER BY stage""".stripMargin)),

    // X70 winsorized robust mean — the feature-normalization step run
    // before per-source length/quality statistics feed a mixing or
    // re-weighting decision: clamp each doc's token count to its
    // source's [p05, p95] band, then take the mean of the CLAMPED
    // values. Unlike dropping outliers (q107's MAD gate), winsorizing
    // keeps every row while bounding any single doc's leverage — the
    // standard robust location estimate for heavy-tailed length
    // distributions. Exactness: the p05/p95 boundaries come from
    // ops/GlobalRank.exactPercentiles (q63's distributed machinery —
    // interpolation agrees with DuckDB quantile_cont to the ulp) and
    // are then QUANTIZED to integer hundredths (floor(p*100), same
    // double both engines); every clamped value is the integer
    // clamp(100*ntok, p05_fp, p95_fp), so sum and mean are exact
    // integer arithmetic — no order-dependent double sum anywhere.
    // Scale shape: one (source, ntok) pass through the range-partition
    // rank machinery (no buffer-all Percentile, no per-source window),
    // boundaries are a sources-many table BROADCAST back onto a second
    // corpus pass, one partial+final agg. Nothing corpus-sized ever
    // concentrates on one reducer.
    Q("q163_winsorized_mean",
      (s, d) => {
        // cut: the percentile and clamp passes share no exchange below
        // it, so the lazy plan splits the corpus text twice
        val toks = documents(s, d).select(col("source"),
          size(split(col("text"), " ")).cast("long").as("ntok"))
          .transform(Materialize.cut)
        val bounds = GlobalRank.exactPercentiles(
            toks, col("source"), col("ntok"), Seq(0.05, 0.95))
          .groupBy(col("g").as("source"))
          .agg(
            floor(max(when(col("q") === 0.05, col("pct"))) * 100)
              .cast("long").as("p05_fp"),
            floor(max(when(col("q") === 0.95, col("pct"))) * 100)
              .cast("long").as("p95_fp"))
        toks.join(broadcast(bounds), Seq("source"))
          .select(col("source"), col("p05_fp"), col("p95_fp"),
            least(greatest(col("ntok") * 100, col("p05_fp")),
              col("p95_fp")).as("w_fp"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            first(col("p05_fp")).as("p05_fp"),
            first(col("p95_fp")).as("p95_fp"),
            sum(col("w_fp")).as("w_sum"))
          .select(col("source"), col("n_docs"), col("p05_fp"),
            col("p95_fp"),
            expr("w_sum DIV n_docs").as("win_mean_fp"))
          .orderBy("source")
      },
      Some("""WITH toks AS (
             |  SELECT source,
             |    CAST(len(str_split(text, ' ')) AS BIGINT) AS ntok
             |  FROM documents),
             |b AS (
             |  SELECT source,
             |    CAST(floor(quantile_cont(ntok, 0.05) * 100) AS BIGINT)
             |      AS p05_fp,
             |    CAST(floor(quantile_cont(ntok, 0.95) * 100) AS BIGINT)
             |      AS p95_fp
             |  FROM toks GROUP BY source),
             |w AS (
             |  SELECT toks.source, p05_fp, p95_fp,
             |    least(greatest(100 * ntok, p05_fp), p95_fp) AS w_fp
             |  FROM toks JOIN b ON toks.source = b.source)
             |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |  p05_fp, p95_fp,
             |  CAST(sum(w_fp) // count(*) AS BIGINT) AS win_mean_fp
             |FROM w GROUP BY source, p05_fp, p95_fp
             |ORDER BY source""".stripMargin)),

    // X76 quantile normalization — map every doc's token count to the
    // GLOBAL value at the same rank fraction within its source (the
    // Bolstad et al. 2003 microarray technique, here the feature-
    // normalization step that makes per-source length features
    // comparable before they feed one mixing/packing decision: a
    // "long doc" in a tweets source and in a books source land at the
    // same normalized value iff they sit at the same quantile).
    // Exactness contract: everything is RANKS — per-source rank r
    // (tiebreak doc_id), source size n_s, corpus size N, target global
    // rank t = r·(N−1) DIV (n_s−1) (single-doc sources map to the
    // median (N−1) DIV 2), normalized value = the corpus value at rank
    // t. No interpolation, no doubles anywhere: pure integer index
    // arithmetic (r·(N−1) accumulates in DECIMAL(38,0) — it overflows
    // BIGINT past ~3e9 docs).
    // Scale shape: BOTH rank passes are ops/GlobalRank.prefixSum over
    // (ntok, doc_id) (range-partition + prefix counts — never a per-source
    // window, never a global-order single-reducer window), and their
    // totals are n_s and N; the value lookup is an equi-join on the
    // 8-byte target rank; n_s / N ride broadcasts. The corpus text is
    // scanned once into the cut narrow token table.
    Q("q175_quantile_normalize",
      (s, d) => {
        // cut: as in q163
        val toks = documents(s, d).select(col("source"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("ntok"))
          .transform(Materialize.cut)
        val order = Seq(col("ntok"), col("doc_id"))
        val (rk, ns) =
          GlobalRank.prefixSum(toks, Seq("source"), order, lit(1L))
        val (glob, nTot) = GlobalRank.prefixSum(
          toks.select("ntok", "doc_id"), Nil, order, lit(1L))
        rk.withColumnRenamed("before", "r")
          .join(broadcast(ns.withColumnRenamed("total", "n_s")), "source")
          .crossJoin(broadcast(nTot.withColumnRenamed("total", "n_tot")))
          .withColumn("t", when(col("n_s") > 1,
              expr("CAST((CAST(r AS DECIMAL(38,0)) * (n_tot - 1)) " +
                "DIV (n_s - 1) AS BIGINT)"))
            .otherwise(expr("(n_tot - 1) DIV 2")))
          .join(glob.select(col("ntok").as("norm_tok"),
            col("before").as("grank")), col("t") === col("grank"))
          .select(col("doc_id"), col("source"), col("ntok"),
            col("norm_tok"))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (
             |  SELECT source, doc_id,
             |    CAST(len(str_split(text, ' ')) AS BIGINT) AS ntok
             |  FROM documents),
             |rk AS (
             |  SELECT source, doc_id, ntok,
             |    CAST(row_number() OVER (PARTITION BY source
             |      ORDER BY ntok, doc_id) - 1 AS BIGINT) AS r
             |  FROM toks),
             |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s
             |  FROM toks GROUP BY source),
             |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_tot FROM toks),
             |gl AS (
             |  SELECT ntok AS norm_tok,
             |    CAST(row_number() OVER (ORDER BY ntok, doc_id) - 1
             |      AS BIGINT) AS grank
             |  FROM toks)
             |SELECT rk.doc_id, rk.source, rk.ntok, gl.norm_tok
             |FROM rk JOIN ns USING (source) CROSS JOIN nt
             |JOIN gl ON gl.grank = CASE WHEN ns.n_s > 1
             |  THEN (rk.r * (nt.n_tot - 1)) // (ns.n_s - 1)
             |  ELSE (nt.n_tot - 1) // 2 END
             |ORDER BY rk.doc_id""".stripMargin)),

    // X78 systematic PPS sampling (probability proportional to size,
    // Madow 1949) — the token-weighted sample a mix/eval pipeline draws
    // when doc-wise uniform sampling over-represents short docs: walk
    // the corpus in canonical doc_id order, take a pick every
    // step = total_tokens DIV 100 tokens; a doc is selected with
    // probability ∝ its token count, docs longer than the step get
    // multiple picks (the textbook with-replacement systematic form) —
    // all deterministic, no rand(), integer end to end.
    // Scale shape: the running token total and the 1-row total are
    // ops/GlobalRank.prefixSum (range-partition + per-partition offsets —
    // q86's machinery, no global-order window, no single reducer); the
    // total rides a broadcast; selection is a map-side integer test.
    Q("q178_pps_sample",
      (s, d) => {
        val toks = documents(s, d).select(col("doc_id"),
          greatest(size(split(col("text"), " ")).cast("long"), lit(1L))
            .as("w"))
        val (pre, tot) =
          GlobalRank.prefixSum(toks, Nil, Seq(col("doc_id")), col("w"))
        pre.crossJoin(broadcast(tot))
          .withColumn("step", expr("greatest(total DIV 100, 1L)"))
          .withColumn("n_picks",
            expr("(before + w) DIV step - before DIV step"))
          .filter(col("n_picks") > 0)
          .select(col("doc_id"), col("w").as("ntok"), col("n_picks"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    greatest(CAST(len(str_split(text, ' ')) AS BIGINT), 1)
             |      AS w
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, w,
             |    COALESCE(CAST(sum(w) OVER (ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS BIGINT), 0) AS cb
             |  FROM t),
             |tot AS (
             |  SELECT CAST(greatest(sum(w) // 100, 1) AS BIGINT) AS step
             |  FROM t)
             |SELECT doc_id, w AS ntok,
             |  CAST((cb + w) // step - cb // step AS BIGINT) AS n_picks
             |FROM c CROSS JOIN tot
             |WHERE (cb + w) // step - cb // step > 0
             |ORDER BY doc_id""".stripMargin)),

    // X80 inter-filter agreement (Cohen's kappa, 1960) — the audit run
    // before swapping one quality filter for a cheaper one: agreement
    // between the learned linear classifier (q120's keep rule) and the
    // Gopher/C4 repetition rule (q89's max-unigram ≤ 0.12, integer
    // form) beyond what chance predicts. Raw agreement po alone
    // misleads when both filters pass almost everything — kappa
    // subtracts the marginal-product expectation. Exactness: the 2×2
    // table is integer counts from ONE token pass; po and kappa are
    // emitted as ppm with division in an explicitly truncate-toward-
    // zero form (CASE on sign) because kappa can be negative and Spark
    // DIV truncates where DuckDB // floors — the q155/round2 lesson on
    // a signed domain. Products accumulate in DECIMAL(38,0) (N²-scale).
    // Scale shape: one explode → (doc, tok) partial agg → per-doc
    // flags (second partial agg) → ONE global agg to a single row.
    // Nothing but the token pass is corpus-sized.
    Q("q181_filter_kappa",
      (s, d) => {
        // r17: fanOut after all — the downstream groupBy redistributes
        // the REDUCE side, but the partial (doc, tok) agg still ran
        // inside the one scan task (sf1 measurement: 1.7 s serial; the
        // r15 no-fanOut note was an sf0.1 overhead reading)
        val cc = fanOut(documents(s, d))
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        val wgt = (Scalars.tokenHash(col("tok")) % lit(256L) * lit(2971L)
          + lit(1129L)) % lit(1997L) - lit(998L)
        val flags = cc.select(col("doc_id"), col("c"), wgt.as("wgt"))
          .groupBy("doc_id")
          .agg(sum(col("c") * col("wgt")).as("score"),
            sum(col("c")).as("total"), max(col("c")).as("maxc"))
          .select(
            when(col("score") > 0, 1L).otherwise(0L).as("f1"),
            when(col("maxc") * 100 <= col("total") * 12, 1L)
              .otherwise(0L).as("f2"))
        flags.agg(
            sum(expr("f1 * f2")).as("n11"),
            sum(expr("f1 * (1 - f2)")).as("n10"),
            sum(expr("(1 - f1) * f2")).as("n01"),
            sum(expr("(1 - f1) * (1 - f2)")).as("n00"),
            count(lit(1)).as("n"))
          .select(col("n11"), col("n10"), col("n01"), col("n00"),
            expr("(1000000 * (n11 + n00)) DIV n").as("po_ppm"),
            expr("""CAST(CASE
              WHEN CAST(n AS DECIMAL(38,0)) * n
                   - ((n11 + n10) * CAST(n11 + n01 AS DECIMAL(38,0))
                      + (n01 + n00) * CAST(n10 + n00 AS DECIMAL(38,0))) = 0
              THEN CASE WHEN n11 + n00 = n THEN 1000000 ELSE 0 END
              WHEN CAST(n AS DECIMAL(38,0)) * (n11 + n00)
                   - ((n11 + n10) * CAST(n11 + n01 AS DECIMAL(38,0))
                      + (n01 + n00) * CAST(n10 + n00 AS DECIMAL(38,0))) >= 0
              THEN (1000000 * (CAST(n AS DECIMAL(38,0)) * (n11 + n00)
                   - ((n11 + n10) * CAST(n11 + n01 AS DECIMAL(38,0))
                      + (n01 + n00) * CAST(n10 + n00 AS DECIMAL(38,0)))))
                   DIV (CAST(n AS DECIMAL(38,0)) * n
                   - ((n11 + n10) * CAST(n11 + n01 AS DECIMAL(38,0))
                      + (n01 + n00) * CAST(n10 + n00 AS DECIMAL(38,0))))
              ELSE -((1000000 * -(CAST(n AS DECIMAL(38,0)) * (n11 + n00)
                   - ((n11 + n10) * CAST(n11 + n01 AS DECIMAL(38,0))
                      + (n01 + n00) * CAST(n10 + n00 AS DECIMAL(38,0)))))
                   DIV (CAST(n AS DECIMAL(38,0)) * n
                   - ((n11 + n10) * CAST(n11 + n01 AS DECIMAL(38,0))
                      + (n01 + n00) * CAST(n10 + n00 AS DECIMAL(38,0)))))
              END AS BIGINT)""").as("kappa_ppm"))
      },
      Some {
        val pe = "((n11+n10)*(n11+n01) + (n01+n00)*(n10+n00))"
        val num = s"(n*(n11+n00) - $pe)"
        val den = s"(n*n - $pe)"
        s"""WITH tc AS (
           |  SELECT doc_id, unnest(str_split(text, ' ')) AS tok
           |  FROM documents),
           |cc AS (SELECT doc_id, tok, count(*) AS c
           |  FROM tc GROUP BY 1, 2),
           |fl AS (
           |  SELECT doc_id,
           |    CASE WHEN sum(c * (((('0x' || substr(md5(tok), 1, 15))
           |      ::BIGINT % 256) * 2971 + 1129) % 1997 - 998)) > 0
           |      THEN 1 ELSE 0 END AS f1,
           |    CASE WHEN max(c) * 100 <= sum(c) * 12 THEN 1 ELSE 0 END
           |      AS f2
           |  FROM cc GROUP BY doc_id),
           |m AS (
           |  SELECT CAST(sum(f1 * f2) AS BIGINT) AS n11,
           |    CAST(sum(f1 * (1 - f2)) AS BIGINT) AS n10,
           |    CAST(sum((1 - f1) * f2) AS BIGINT) AS n01,
           |    CAST(sum((1 - f1) * (1 - f2)) AS BIGINT) AS n00,
           |    CAST(count(*) AS BIGINT) AS n
           |  FROM fl)
           |SELECT n11, n10, n01, n00,
           |  CAST((1000000 * (n11 + n00)) // n AS BIGINT) AS po_ppm,
           |  CAST(CASE
           |    WHEN $den = 0
           |      THEN CASE WHEN n11 + n00 = n THEN 1000000 ELSE 0 END
           |    WHEN $num >= 0 THEN (1000000 * $num) // $den
           |    ELSE -((1000000 * -$num) // $den)
           |  END AS BIGINT) AS kappa_ppm
           |FROM m""".stripMargin
      }),

    // X85 deterministic proportional-stride interleave — the RNG-free
    // training-order mixer: each doc's position key is r·N DIV n_s
    // (r = 0-based rank within source, n_s = source size, N = corpus),
    // the systematic-sampling stride (X78's Madow construction turned
    // from selection into ORDERING), so reading docs by position key
    // interleaves every source proportionally — no source ever clumps,
    // every prefix of the training order is a proportional mix (the
    // property epoch-hash shuffling X33 gives only in expectation, made
    // deterministic). Audited per (source, quartile of the key space):
    // counts must be flat at n_s/4 ± 1 — the invariant spec pins the
    // spread; this query dumps the audit table.
    // Scale shape: within-source ranks via ops/GlobalRank.prefixSum
    // (range-partition + prefix counts — never a per-source window, one
    // source can be 10 TB), whose totals are n_s; n_s and N ride
    // broadcasts; the position key and quartile are map-side integer
    // math; the audit is one partial+final agg to sources×4 rows.
    // r·4·N ≤ N² < 2⁶³ for N < 3e9 docs (document the bound; a 100 TB
    // corpus of ≥33 KB docs fits).
    Q("q193_interleaved_mix",
      (s, d) => {
        val docs = documents(s, d).select(col("source"), col("doc_id"))
        val (ranked, ns) = GlobalRank.prefixSum(
          docs, Seq("source"), Seq(col("doc_id")), lit(1L))
        val n = docs.agg(count(lit(1)).as("n"))
        ranked.withColumnRenamed("before", "r")
          .join(broadcast(ns.withColumnRenamed("total", "n_s")), "source")
          .crossJoin(broadcast(n))
          .select(col("source"),
            expr("((r * n) DIV n_s) * 4 DIV n").as("quartile"))
          .groupBy("source", "quartile")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("source", "quartile")
      },
      Some("""WITH ranked AS (
             |  SELECT source, doc_id,
             |    CAST(row_number() OVER (PARTITION BY source
             |      ORDER BY doc_id) - 1 AS BIGINT) AS r,
             |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT)
             |      AS n_s,
             |    CAST(count(*) OVER () AS BIGINT) AS n
             |  FROM documents)
             |SELECT source,
             |  CAST(((r * n) // n_s) * 4 // n AS BIGINT) AS quartile,
             |  CAST(count(*) AS BIGINT) AS n_docs
             |FROM ranked GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // X93 probe-vocabulary χ² drift — the TOKEN-distribution complement
    // of X59/q148's length-TVD audit: how far does each source's token
    // mix sit from the corpus-wide one? Distance is the symmetrized
    // Pearson χ² over a FIXED PROBE VOCABULARY (the corpus top-30 tokens
    // by count, ties by hash — the standard drift-monitor move: a bounded
    // probe set makes the statistic scale-free and cheap to track per
    // snapshot) plus one OTHER cell holding each distribution's residual
    // mass: chi2 = Σ (p−q)² DIV (p+q) over ppm-quantized cell masses —
    // rational arithmetic only, so unlike KL/PSI it needs no log() (IEEE
    // transcendental ⇒ last-ulp cross-engine divergence) and both engines
    // agree bit-for-bit. Cells are ≤1e6 so squares stay ≤1e12 and the
    // 31-cell sum ≤~6e13 — no overflow at ANY corpus size (the statistic
    // is normalized before arithmetic, unlike count-product forms).
    // A source missing a probe contributes its full q mass — the grid
    // join makes absent cells explicit (q148's pattern).
    // Scale shape: ONE token explode behind fanOut (map-side combine into
    // the (source, hash) count table, materialized once and read three
    // times — corpus marginal, per-source totals, cell grid); probe
    // mining is a TakeOrdered over the vocab-sized marginal (never a
    // global sort); probes and totals ride broadcasts; everything
    // downstream runs on sources×31 cells.
    Q("q207_chi2_drift",
      (s, d) => chi2FromCounts(
        sourceTokenCounts(documents(s, d)).transform(Materialize.cut)),
      Some(s"""WITH toks AS (
             |  SELECT source, unnest(str_split(text, ' ')) AS tok
             |  FROM documents),
             |tok AS (
             |  SELECT source,
             |    (${QueriesText.tokSql("tok")} % ${QueriesText.P}) AS th,
             |    CAST(count(*) AS BIGINT) AS c
             |  FROM toks GROUP BY 1, 2),
             |corpus AS (SELECT th, CAST(sum(c) AS BIGINT) AS ct
             |           FROM tok GROUP BY 1),
             |tt AS (SELECT CAST(sum(ct) AS BIGINT) AS t FROM corpus),
             |probes AS (
             |  SELECT th, (1000000 * ct) // t AS q_ppm
             |  FROM corpus, tt ORDER BY ct DESC, th ASC LIMIT 30),
             |srct AS (SELECT source, CAST(sum(c) AS BIGINT) AS t_s
             |         FROM tok GROUP BY 1),
             |cells AS (
             |  SELECT srct.source, p.q_ppm,
             |    (1000000 * COALESCE(k.c, 0)) // srct.t_s AS p_ppm
             |  FROM srct CROSS JOIN probes p
             |  LEFT JOIN tok k ON k.source = srct.source AND k.th = p.th),
             |agg AS (
             |  SELECT source,
             |    CAST(sum(CASE WHEN p_ppm + q_ppm = 0 THEN 0
             |      ELSE ((p_ppm - q_ppm) * (p_ppm - q_ppm))
             |        // (p_ppm + q_ppm) END) AS BIGINT) AS chi_probe,
             |    CAST(sum(p_ppm) AS BIGINT) AS p_sum,
             |    CAST(sum(q_ppm) AS BIGINT) AS q_sum,
             |    CAST(sum(CASE WHEN p_ppm > 0 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_probe_hits
             |  FROM cells GROUP BY 1)
             |SELECT a.source, srct.t_s AS n_tokens,
             |  CAST(a.chi_probe + CASE WHEN 2000000 - a.p_sum - a.q_sum = 0
             |    THEN 0 ELSE ((a.q_sum - a.p_sum) * (a.q_sum - a.p_sum))
             |      // (2000000 - a.p_sum - a.q_sum) END AS BIGINT)
             |    AS chi2_ppm,
             |  a.n_probe_hits,
             |  CAST(CASE WHEN a.chi_probe + CASE
             |      WHEN 2000000 - a.p_sum - a.q_sum = 0 THEN 0
             |      ELSE ((a.q_sum - a.p_sum) * (a.q_sum - a.p_sum))
             |        // (2000000 - a.p_sum - a.q_sum) END >= 50000
             |    THEN 1 ELSE 0 END AS INT) AS drifted
             |FROM agg a JOIN srct USING (source)
             |ORDER BY a.source""".stripMargin)),

    // A24 Welch two-sample t-test — ClickHouse `welchTTest` parity
    // (ops/Welch): the continuous-measure drift gate beside q207's χ²
    // (categorical). Per event_type, tests whether the value-cents mean
    // of the FIRST WEEK (sample A: day < min_day + 7) differs from the
    // rest of the window (sample B) without assuming equal variances —
    // the A/B readout an events warehouse serves. Exact integer
    // partials (n, Σcents BIGINT, Σcents² DECIMAL(38,0) — decimal so a
    // billion-row slice cannot silently wrap a long), then ONE
    // identical IEEE expression tree over them in both engines: the
    // doubles match bit-for-bit, so the row carries a FULL oracle, not
    // a tolerance band (ops/Welch scaladoc; WelchSpec pins the
    // invariances — same-distribution t ≈ 0, planted shift flags).
    // Scale shape: one corpus-sized partial+final agg (six conditional
    // aggregates on one map-side combine — the A23 -If form) against a
    // 1-row broadcast of min(day); t/df arithmetic on the types-sized
    // table.
    Q("q222_welch_ttest",
      (s, d) => graft.ops.Welch
        .tTest(weekSplitCents(s, d), Seq("event_type"), "grp", "x")
        .orderBy("event_type"),
      Some(s"""$weekSplitSqlPrefix
             |$weekSplitPartialsSql
             |${graft.ops.Welch.oracleTail("event_type")}
             |ORDER BY event_type""".stripMargin)),

    // A26 Student's pooled t-test — ClickHouse `studentTTest` parity:
    // the equal-variance twin of q222, consuming the SAME exact
    // (n, Σx, Σx²) partials (ops/Welch.studentTTest; one corpus agg —
    // the two tests differ only in the keys-sized IEEE tail). df is the
    // exact BIGINT n_a+n_b−2, not Welch's fractional Satterthwaite.
    Q("q225_student_ttest",
      (s, d) => graft.ops.Welch
        .studentTTest(weekSplitCents(s, d), Seq("event_type"), "grp", "x")
        .orderBy("event_type"),
      Some(s"""$weekSplitSqlPrefix
             |$weekSplitPartialsSql
             |${graft.ops.Welch.studentOracleTail("event_type")}
             |ORDER BY event_type""".stripMargin)),

    // A27 Mann–Whitney U — ClickHouse `mannWhitneyUTest` parity
    // (ops/RankTests.mannWhitney): the rank-based shift gate — detects
    // a stochastic ordering change between the two windows without any
    // normality assumption (q222/q225 test MEANS; this tests whether one
    // window's values systematically dominate). Exact integer rank
    // algebra over the per-type value histogram (2·rank = 2·#below +
    // #tied + 1 is an integer even with averaged ties; tie correction
    // folds in DECIMAL(38,0) behind a loud t³ overflow guard), then the
    // Welch-contract IEEE tail for z — full oracle.
    // Scale shape: one corpus agg to the (type, cents) histogram —
    // bounded by the value domain, saturating under data growth — and
    // every window below runs per-type over that table (§7.5 #7: no
    // global-order window touches fact rows).
    Q("q226_mannwhitney_u",
      (s, d) => graft.ops.RankTests.mannWhitney(
        graft.ops.RankTests.histogram(
          weekSplitCents(s, d), Seq("event_type"), "grp", "x"),
        Seq("event_type"))
        .orderBy("event_type"),
      Some(s"""$weekSplitSqlPrefix
             |h AS (
             |  SELECT event_type, x,
             |    CAST(count(CASE WHEN day < d0 + 7 THEN 1 END)
             |      AS BIGINT) AS c_a,
             |    CAST(count(CASE WHEN day >= d0 + 7 THEN 1 END)
             |      AS BIGINT) AS c_b
             |  FROM e, d0 GROUP BY 1, 2),
             |${graft.ops.RankTests.mwuOracleTail("event_type")}
             |ORDER BY event_type""".stripMargin)),

    // A28 two-sample Kolmogorov–Smirnov — ClickHouse
    // `kolmogorovSmirnovTest` parity (ops/RankTests.ksTest): the
    // any-divergence gate — D = max ECDF gap catches shape and spread
    // changes the mean/rank tests miss. Exact BIGINT numerator
    // max |cum_a·n_b − cum_b·n_a| over the shared n_a·n_b denominator
    // (ppm-scaled behind the q209 overflow guard); the α = 0.05
    // asymptotic rejection threshold is the identical-IEEE-tree flag.
    // Same histogram economics as q226.
    Q("q227_ks_test",
      (s, d) => graft.ops.RankTests.ksTest(
        graft.ops.RankTests.histogram(
          weekSplitCents(s, d), Seq("event_type"), "grp", "x"),
        Seq("event_type"))
        .orderBy("event_type"),
      Some(s"""$weekSplitSqlPrefix
             |h AS (
             |  SELECT event_type, x,
             |    CAST(count(CASE WHEN day < d0 + 7 THEN 1 END)
             |      AS BIGINT) AS c_a,
             |    CAST(count(CASE WHEN day >= d0 + 7 THEN 1 END)
             |      AS BIGINT) AS c_b
             |  FROM e, d0 GROUP BY 1, 2),
             |${graft.ops.RankTests.ksOracleTail("event_type")}
             |ORDER BY event_type""".stripMargin)),

    // A29 categorical association — ClickHouse `cramersV` +
    // `contingency` parity (ops/Association): is the event-type mix
    // independent of the weekday, and how strongly not, on [0, 1]?
    // The STRENGTH companion of the drift/independence tests
    // (q207/q222/q226/q227 answer "did it change"; this answers "how
    // coupled are these two categorical axes"). Fixed-point χ² core
    // (per-cell `(1e6·o²) DIV (r·c)` — both engines floor identically,
    // q207 precedent) + identical-IEEE-tree V and C doubles — full
    // oracle. Weekday = epoch-day % 7 (non-negative domain).
    // Scale shape: one corpus count agg to the types×7 cells table;
    // marginals and coefficients run on category-sized rows via
    // broadcasts.
    Q("q228_cramers_v",
      (s, d) => graft.ops.Association.cramers(
        events(s, d).select(col("event_type"),
          (Scalars.longDiv("ts", 86400000000000L) % 7).as("dow")),
        "event_type", "dow"),
      Some(s"""WITH cells AS (
             |  SELECT event_type AS ka,
             |    (epoch_ns(ts) // 86400000000000) % 7 AS kb,
             |    CAST(count(*) AS BIGINT) AS o
             |  FROM events GROUP BY 1, 2),
             |${graft.ops.Association.oracleTail}""".stripMargin)),

    // A31 bias-corrected Cramér's V — ClickHouse `cramersVBiasCorrected`
    // parity (Bergsma 2013): plain V overstates association on finite
    // samples (E[χ²] > 0 under exact independence); the correction
    // subtracts the independence expectation and shrinks the dimensions
    // before normalizing. Closed-form over the SAME exact
    // (n, n_a, n_b, chi2_ppm) core q228 builds — one more IEEE tree on
    // the 1-row table, zero extra corpus work (ops/Association
    // .cramersCorrected; bcOracleTail is the textual mirror).
    Q("q232_cramers_v_bc",
      (s, d) => graft.ops.Association.cramersCorrected(
        events(s, d).select(col("event_type"),
          (Scalars.longDiv("ts", 86400000000000L) % 7).as("dow")),
        "event_type", "dow"),
      Some(s"""WITH cells AS (
             |  SELECT event_type AS ka,
             |    (epoch_ns(ts) // 86400000000000) % 7 AS kb,
             |    CAST(count(*) AS BIGINT) AS o
             |  FROM events GROUP BY 1, 2),
             |${graft.ops.Association.bcOracleTail}""".stripMargin)),

    // A32 known-variance mean z-test — ClickHouse `meanZTest` parity
    // (ops/Welch.meanZTest): when each window's variance is a KNOWN
    // constant (a calibrated metric with an established noise floor),
    // the mean comparison is exactly normal — z = (m̄_a − m̄_b) /
    // sqrt(σ²_a/n_a + σ²_b/n_b). Rides the q222 partials contract
    // VERBATIM (same one corpus agg; Σx² unused), with the variances as
    // literal strings so the Spark expr and oracle SQL stay in textual
    // lockstep. σ² = 1e9 cents² ≈ the uniform-value noise floor of the
    // events table (range²/12 for ~$1k values).
    Q("q233_mean_ztest",
      (s, d) => graft.ops.Welch.meanZTest(
        weekSplitCents(s, d), Seq("event_type"), "grp", "x",
        "1000000000.0", "1000000000.0")
        .orderBy("event_type"),
      Some(s"""$weekSplitSqlPrefix
             |$weekSplitPartialsSql
             |${graft.ops.Welch.zOracleTail("event_type",
                "1000000000.0", "1000000000.0")}
             |ORDER BY event_type""".stripMargin)),

    // A34 experiment sizing — ClickHouse `minSampleSizeConversion` /
    // `minSampleSizeContinuous` parity, the PLANNING complement of the
    // drift-gate family (q222-q233 test a split after the fact; this
    // reads the observed baseline per event_type and answers "how many
    // samples per arm does the NEXT A/B test need"): the classical
    // two-arm formulas at α = 0.05 / power = 0.80 — n_conv =
    // (z_{α/2}+z_β)²·(p1(1−p1)+p2(1−p2))/mde² for a conversion lift of
    // mde = 0.05 over the observed rate p1 = P(cents ≥ 10000), and
    // n_cont = 2(z_{α/2}+z_β)²·s²/mde² for a 500-cent mean shift with
    // s² the observed sample variance. The z quantiles are fixed DOUBLE
    // LITERALS (1.9599639845400545e0, 0.8416212335729143e0) — the e0
    // exponent makes BOTH parsers take the strtod double path (a bare
    // 17-digit decimal literal would ride DuckDB's DECIMAL(17,16),
    // whose >2⁵³ numerator does not convert exactly — the q230
    // digit-string lesson), so no transcendental is ever evaluated; the baselines
    // come from exact integer partials (n, k, Σx BIGINT, Σx²
    // DECIMAL(38,0) — the A24 contract) and each output is ONE mirrored
    // IEEE tree — bit-identical, full oracle. Degenerate types (n < 2
    // or zero variance) are filtered on both sides' identical doubles.
    // Scale shape: ONE corpus-sized partial+final agg (four conditional
    // aggregates on one map-side combine, q222's economics without the
    // split broadcast); all sizing algebra runs on the types-sized
    // table. No window, no join.
    Q("q237_min_sample_size",
      (s, d) => minSampleSizes(events(s, d).select(col("event_type"),
        Scalars.cents(col("value")).as("x"))),
      Some(s"""WITH e AS (
             |  SELECT event_type, ${Scalars.centsSql("value")} AS x
             |  FROM events),
             |p AS (
             |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |    CAST(count(CASE WHEN x >= 10000 THEN 1 END) AS BIGINT)
             |      AS k,
             |    CAST(sum(x) AS BIGINT) AS sx,
             |    sum(CAST(x * x AS DECIMAL(38,0))) AS sxx
             |  FROM e GROUP BY 1),
             |m AS (
             |  SELECT *, CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_c
             |  FROM p WHERE n > 1),
             |v AS (
             |  SELECT *,
             |    (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * mean_c)
             |      / CAST(n - 1 AS DOUBLE) AS s2
             |  FROM m),
             |r AS (
             |  SELECT *, CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p1
             |  FROM v WHERE s2 > 0)
             |SELECT event_type, n, k, p1,
             |  ((1.9599639845400545e0 + 0.8416212335729143e0) *
             |    (1.9599639845400545e0 + 0.8416212335729143e0)) *
             |    (p1 * (1.0 - p1) +
             |    (p1 + 0.05) * (1.0 - (p1 + 0.05))) / (0.05 * 0.05)
             |    AS n_req_conversion,
             |  s2,
             |  2.0 * ((1.9599639845400545e0 + 0.8416212335729143e0) *
             |    (1.9599639845400545e0 + 0.8416212335729143e0)) * s2 /
             |    (500.0 * 500.0) AS n_req_continuous
             |FROM r ORDER BY event_type""".stripMargin)),

    // X95 temperature-rebalanced language mixture (α = 0.5; Conneau &
    // Lample 2019's multilingual sampling, the standard fix for
    // high-resource languages crowding out the tail): sampling weights
    // proportional to n_l^α instead of n_l — the tail is up-weighted,
    // the head down-weighted, and α = 0.5 is the square root, so the
    // weight needs no pow()/exp() (IEEE transcendentals ⇒ last-ulp
    // cross-engine divergence): isq = floor(sqrt(n_l)·1000) is ONE
    // correctly-rounded IEEE sqrt + one exact scaling per language —
    // bit-identical in both engines — and everything after is integer
    // (Σ isq is an exact BIGINT sum, never a float accumulation).
    // Report per language: natural share, α-share, and the boost ratio
    // a mix plan multiplies into its per-language budgets (q137/q90's
    // allocation inputs). boost guards the nat_ppm = 0 edge (a sub-ppm
    // language in a huge corpus) with an explicit 0, not a crash.
    // Scale shape: ONE partial+final agg to the languages-sized table;
    // the sqrt, the Σ isq (tiny self-agg via cross join of the 1-row
    // total), and all ratios run on languages-many rows. One corpus
    // scan of one column.
    Q("q209_alpha_mix",
      (s, d) => {
        val nl = documents(s, d).groupBy("lang")
          .agg(count(lit(1)).as("n_docs"))
          .withColumn("isq",
            floor(sqrt(col("n_docs").cast("double")) * 1000).cast("long"))
        val tot = nl.agg(sum("n_docs").as("n"), sum("isq").as("s_isq"))
        nl.crossJoin(broadcast(tot))
          .select(col("lang"), col("n_docs"),
            // exactness window (q207/q199 pattern): every ppm product
            // here is bounded by 1e6·n (isq ≈ 1000·√n_docs ≪ n, and
            // alpha_ppm ≤ 1e6 keeps boost's product under 1e12), so ONE
            // guard on the corpus doc total covers the query — Spark
            // wraps silently past 2^63 where DuckDB widens to HUGEINT
            (expr("(1000000 * n_docs) DIV n") +
              coalesce(assert_true(col("n") < lit(9223372036854L),
                lit("q209: corpus doc total >= 2^63/1e6 — ppm scaling " +
                  "would overflow long; chunk per shard or widen to " +
                  "DECIMAL(38,0)")).cast("long"), lit(0L)))
              .as("nat_ppm"),
            expr("(1000000 * isq) DIV s_isq").as("alpha_ppm"))
          .withColumn("boost_ppm",
            expr("CASE WHEN nat_ppm = 0 THEN CAST(0 AS BIGINT) " +
              "ELSE (1000000 * alpha_ppm) DIV nat_ppm END"))
          .orderBy("lang")
      },
      Some("""WITH nl AS (
             |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             |    CAST(floor(sqrt(count(*)) * 1000) AS BIGINT) AS isq
             |  FROM documents GROUP BY lang),
             |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n,
             |               CAST(sum(isq) AS BIGINT) AS s_isq FROM nl)
             |SELECT lang, n_docs,
             |  (1000000 * n_docs) // n AS nat_ppm,
             |  (1000000 * isq) // s_isq AS alpha_ppm,
             |  CASE WHEN (1000000 * n_docs) // n = 0 THEN 0
             |    ELSE (1000000 * ((1000000 * isq) // s_isq))
             |      // ((1000000 * n_docs) // n) END AS boost_ppm
             |FROM nl CROSS JOIN tot ORDER BY lang""".stripMargin)),

    // X98 end-to-end curation funnel — the DECLARED read of the
    // CurationPipeline composition (quality → dedup → decontaminate →
    // mix over ONE corpus scan; pipelines/CurationPipeline, VERDICT r12
    // #5 / r13 #2): the per-stage yield table (q157's shape) over the
    // cumulative conjunction of the four stage verdicts, each the
    // corpus-global verdict of its standalone query (q120 / q93-via-
    // closure / q87 / q90 — the stage functions are the SINGLE
    // implementation, so the funnel and the standalone surface cannot
    // drift; CurationPipelineSpec pins stage parity, THIS query pins the
    // composition against a full DuckDB replay of all four stages plus
    // the recursive dedup closure over the corpus-minus-holdout domain).
    // Scale shape: inherited from the pipeline — one corpus scan into
    // the checkpointed snapshot, three text-derived verdict families
    // over it, ONE narrow flag materialization, and the funnel itself is
    // a single partial+final agg to one row of five conjunction
    // counters. Nothing after the flag table grows with corpus size.
    Q("q212_curation_funnel",
      (s, d) => graft.pipelines.CurationPipeline
        .run(documents(s, d)).yieldTable,
      Some {
        // bucketSql's replay with columns qualified for the 4-way join
        val mixCond =
          "(('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), " +
            "1, 15))::BIGINT % 100) < " +
            "20 + (substr(d.source, 4)::INT % 5) * 20"
        s"""WITH RECURSIVE
           |corp AS MATERIALIZED (
           |  SELECT * FROM documents WHERE doc_id % 100 <> 0),
           |${QueriesText.closureSqlCtesOver("corp")},
           |lab AS (
           |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster,
           |         d.n_chars
           |  FROM corp d LEFT JOIN comp c ON c.v = d.doc_id),
           |reps AS (
           |  SELECT doc_id FROM (
           |    SELECT doc_id, row_number() OVER (PARTITION BY cluster
           |      ORDER BY n_chars DESC, doc_id ASC) AS rn
           |    FROM lab) WHERE rn = 1),
           |tokq AS (SELECT doc_id, unnest(str_split(text, ' ')) AS w
           |         FROM corp),
           |qual AS (
           |  SELECT doc_id,
           |    sum(((('0x' || substr(md5(w), 1, 15))::BIGINT % 256)
           |      * 2971 + 1129) % 1997 - 998) > 0 AS kq
           |  FROM tokq GROUP BY doc_id),
           |tks AS (SELECT doc_id, str_split(text, ' ') AS t
           |        FROM documents),
           |sh5 AS MATERIALIZED (
           |  SELECT doc_id, unnest(list_transform(
           |    range(1, len(t) - 3),
           |    i -> array_to_string(t[i:i+4], ' '))) AS sh
           |  FROM tks WHERE len(t) >= 5),
           |bench5 AS (SELECT DISTINCT sh FROM sh5 WHERE doc_id % 100 = 0),
           |cont AS (
           |  SELECT DISTINCT s.doc_id FROM sh5 s
           |  JOIN bench5 b ON s.sh = b.sh
           |  WHERE s.doc_id % 100 <> 0),
           |flags AS (
           |  SELECT d.doc_id,
           |    coalesce(q.kq, FALSE) AS k1,
           |    (r.doc_id IS NOT NULL) AS k2,
           |    (c.doc_id IS NULL) AS k3,
           |    ($mixCond) AS k4
           |  FROM corp d
           |  LEFT JOIN qual q ON q.doc_id = d.doc_id
           |  LEFT JOIN reps r ON r.doc_id = d.doc_id
           |  LEFT JOIN cont c ON c.doc_id = d.doc_id),
           |a AS (SELECT CAST(count(*) AS BIGINT) AS n0,
           |  CAST(sum(CASE WHEN k1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           |  CAST(sum(CASE WHEN k1 AND k2 THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n2,
           |  CAST(sum(CASE WHEN k1 AND k2 AND k3 THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n3,
           |  CAST(sum(CASE WHEN k1 AND k2 AND k3 AND k4 THEN 1 ELSE 0
           |    END) AS BIGINT) AS n4
           | FROM flags),
           |f AS (
           |  SELECT 1 AS stage, 'quality_classifier' AS fname,
           |    n0 AS n_in, n1 AS n_out, n0 FROM a
           |  UNION ALL SELECT 2, 'dedup_representative', n1, n2, n0 FROM a
           |  UNION ALL SELECT 3, 'decontaminate', n2, n3, n0 FROM a
           |  UNION ALL SELECT 4, 'source_mix', n3, n4, n0 FROM a)
           |SELECT CAST(stage AS INT) AS stage, fname, n_in,
           |  n_in - n_out AS n_removed, n_out,
           |  CAST(CASE WHEN n_in = 0 THEN 0
           |    ELSE (1000000 * (n_in - n_out)) // n_in END AS BIGINT)
           |    AS removed_ppm,
           |  CAST(CASE WHEN n0 = 0 THEN 0
           |    ELSE (1000000 * n_out) // n0 END AS BIGINT)
           |    AS survive_ppm
           |FROM f ORDER BY stage""".stripMargin
      })
  )

  /** Full-range (un-modded) tagged content hash for sample ordering. */
  private def bucketFull(tag: String) =
    Scalars.tokenHash(concat(lit(tag), col("doc_id").cast("string")))

  /** The X39 chunk transform, un-sorted: stateless narrow map (per-doc
    * explode, no aggregation/window), so the SAME plan runs unchanged
    * under Structured Streaming — each micro-batch chunks its documents
    * independently (`StreamingSpec`'s chunking twin proves batch/stream
    * row-set equality). q127 adds the dump's total order on top.
    */
  private[graft] def contextChunks(
      docs: org.apache.spark.sql.DataFrame,
      extra: Seq[String] = Nil): org.apache.spark.sql.DataFrame = {
    val passthrough = extra.map(col)
    docs.select(col("doc_id") +: passthrough :+
        split(col("text"), " ").as("t"): _*)
      .withColumn("n", size(col("t")))
      .select(col("doc_id") +: passthrough :+ col("t") :+ col("n") :+
        explode(expr("sequence(1, greatest(n - 16, 1), 48)"))
          .as("start_tok"): _*)
      .withColumn("chunk",
        expr("concat_ws(' ', slice(t, start_tok, 64))"))
      .select(col("doc_id") +: passthrough :+
        expr("CAST((start_tok - 1) DIV 48 AS INT)").as("chunk_id") :+
        col("start_tok").cast("long").as("start_tok") :+
        least(lit(64), col("n") - col("start_tok") + 1)
          .cast("long").as("n_tok") :+
        Scalars.tokenHash(col("chunk")).as("fp"): _*)
  }

  /** q148's map-side cell builder — (source, bucket, n_sb) counts over
    * 8-token length bins capped at 24. Shared by the declared batch audit
    * and the streaming twin (`StreamingSpec` X59: a complete-mode
    * streaming aggregation of the same cells equals the batch cells, so
    * the drift monitor runs incrementally — the cells ARE the state, the
    * TVD arithmetic is a constant-size read model over them).
    */
  private[graft] def lengthCells(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("source"), expr(
      "least(CAST(size(split(text, ' ')) AS BIGINT) DIV 8, 24L)")
      .as("bucket"))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n_sb"))

  /** q148's exact-TVD arithmetic over a MATERIALIZED cell table (every
    * marginal, the absent-cell grid, and the fixed-point division run
    * over (source × bucket)-bounded input, never over docs).
    */
  private[graft] def driftFromCells(
      cells: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val nS = cells.groupBy("source").agg(sum("n_sb").as("n_s"))
    val nB = cells.groupBy("bucket").agg(sum("n_sb").as("n_b"))
    val n = cells.agg(sum("n_sb").as("n"))
    nS.crossJoin(broadcast(nB))
      .join(cells, Seq("source", "bucket"), "left")
      .withColumn("n_sb", coalesce(col("n_sb"), lit(0L)))
      .crossJoin(broadcast(n))
      .groupBy("source")
      .agg(max("n_s").as("n_docs"),
        sum(abs(col("n_sb") * col("n") - col("n_b") * col("n_s")))
          .as("num"),
        max(col("n_s") * col("n")).as("den"))
      .withColumn("tvd_ppm", expr("(1000000L * num) DIV (2L * den)"))
      .select("source", "n_docs", "tvd_ppm")
      .orderBy("source")
  }

  /** X93 corpus-sized stage of q207: the (source, token-hash) count agg.
    * Exposed separately because it is also the STREAMING fold of the
    * drift monitor (complete-mode agg over micro-batches — the natural
    * deployment of a per-snapshot drift alarm on a continuously-ingested
    * corpus; `StreamingSpec` X93s pins streamed-vs-batch equality: the
    * count is associative, so the sink table equals the batch agg
    * exactly and the χ² stage is deterministic on top of it).
    */
  private[graft] def sourceTokenCounts(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    fanOut(docs)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .select(col("source"),
        (Scalars.tokenHash(col("tok")) % QueriesText.P).as("th"))
      .groupBy("source", "th").agg(count(lit(1)).as("c"))

  /** X93 post-agg stage of q207: probe mining + the ppm χ² arithmetic
    * over a MATERIALIZED (source, th, c) count table. Probe mining is a
    * TakeOrdered over the vocab-sized marginal; everything after runs on
    * sources×31 cells.
    */
  private[graft] def chi2FromCounts(
      tok: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val corpus = tok.groupBy("th").agg(sum("c").as("ct"))
      .transform(Materialize.cut)
    val tt = corpus.agg(sum("ct").as("t"))
    // exactness window: every 1e6·count product in this audit is bounded
    // by 1e6·t, so ONE guard on the grand total covers them all — t must
    // stay under 2^63/1e6 ≈ 9.2e12 tokens (~37 TB of 4-byte-token text;
    // chunk the audit per shard family beyond that, or widen to
    // DECIMAL(38,0)). Spark would WRAP silently where DuckDB widens to
    // HUGEINT — the exact cross-engine silent divergence the assert
    // turns into a loud failure (q199/q206 pattern).
    val probes = corpus.orderBy(col("ct").desc, col("th").asc).limit(30)
      .crossJoin(broadcast(tt))
      .select(col("th"),
        (expr("(1000000 * ct) DIV t") +
          coalesce(assert_true(col("t") < lit(9223372036854L),
            lit("q207: corpus token total >= 2^63/1e6 — ppm scaling " +
              "would overflow long; chunk per shard or widen to " +
              "DECIMAL(38,0)")).cast("long"), lit(0L))).as("q_ppm"))
    val ts = tok.groupBy("source").agg(sum("c").as("t_s"))
    val cells = ts.crossJoin(broadcast(probes))
      .join(tok, Seq("source", "th"), "left")
      .select(col("source"), col("q_ppm"),
        expr("(1000000 * coalesce(c, CAST(0 AS BIGINT))) DIV t_s")
          .as("p_ppm"))
    val agg = cells.groupBy("source")
      .agg(sum(expr("CASE WHEN p_ppm + q_ppm = 0 THEN CAST(0 AS " +
          "BIGINT) ELSE ((p_ppm - q_ppm) * (p_ppm - q_ppm)) " +
          "DIV (p_ppm + q_ppm) END")).as("chi_probe"),
        sum("p_ppm").as("p_sum"), sum("q_ppm").as("q_sum"),
        sum(when(col("p_ppm") > 0, 1L).otherwise(0L))
          .as("n_probe_hits"))
    agg.join(broadcast(ts), "source")
      .select(col("source"), col("t_s").as("n_tokens"),
        (col("chi_probe") + expr("CASE WHEN 2000000 - p_sum - q_sum " +
          "= 0 THEN CAST(0 AS BIGINT) ELSE ((q_sum - p_sum) * " +
          "(q_sum - p_sum)) DIV (2000000 - p_sum - q_sum) END"))
          .as("chi2_ppm"),
        col("n_probe_hits"))
      .withColumn("drifted",
        when(col("chi2_ppm") >= 50000L, 1).otherwise(0))
      .orderBy("source")
  }
}
