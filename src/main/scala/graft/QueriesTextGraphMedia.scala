package graft

import org.apache.spark.sql.functions._

/** Graph-analytics and multimodal family (SURVEY.md §2.11 X71/X72/X77
  + X9/X43/X44/X45/X82): PageRank/triangles/label-propagation over the
  contracted near-dup graph, and the binary/image/audio/video/cross-
  modal operators whose decode seams live in ops/Multimodal*.
  *
  * Split out of QueriesText.scala in round 11 (the file had reached
  * 3,300 lines across 9 families — VERDICT r10 #7); queries are
  * verbatim, the registry order groups by family now.
  */
object QueriesTextGraphMedia {
  import Tables._
  import QueriesText._

  val all: Seq[Q] = Seq(

    // X71 canonical-influence ranking — iterative graph analytics
    // BEYOND connected components: 5 power iterations of PageRank
    // (d = 0.85) over the undirected LSH candidate graph (q53's band
    // pairs), surfacing the most-connected documents of the near-dup
    // neighborhood as canonical-pick candidates (a graph-centrality
    // alternative to q158's longest/best-quality keep policies: the
    // copy every other variant is closest to). Exactness contract: the
    // whole iteration is INTEGER ppm arithmetic — contribution =
    // r DIV deg, update = 150000 + (850000·Σcontrib) DIV 1e6 — so five
    // rounds of float summation (whose accumulation order neither
    // engine pins) never occur; both engines converge to identical
    // longs. Scale shape: edges come from the band equi-join (never
    // pairwise); each iteration is one src equi-join + one dst
    // partial+final agg — linear in edges, fixed 5 rounds; the edge
    // table with degrees is cut once and reused by all
    // rounds; top-20 via TakeOrdered, never a global sort.
    Q("q167_pagerank_canon",
      (s, d) => {
        // cut: pairs feeds ed and the ranks-init degree table, which
        // share no exchange
        val pairs = contractedPairs(s, d).transform(ops.Materialize.cut)
        val edges = pairs
          .select(col("a_id").as("src"), col("b_id").as("dst"))
          .unionByName(pairs
            .select(col("b_id").as("src"), col("a_id").as("dst")))
        val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
        val ed = edges.join(deg, "src").transform(ops.Materialize.cut)
        var ranks = deg.select(col("src").as("id"),
          lit(1000000L).as("r"))
        for (_ <- 1 to 5) {
          ranks = ed.join(ranks, col("id") === col("src"))
            .select(col("dst"), expr("r DIV deg").as("c"))
            .groupBy("dst").agg(sum(col("c")).as("cs"))
            .select(col("dst").as("id"),
              (lit(150000L) + expr("(850000 * cs) DIV 1000000")).as("r"))
        }
        ranks.orderBy(col("r").desc, col("id").asc).limit(20)
          .select(col("id").as("doc_id"), col("r").as("rank_ppm"))
      },
      Some {
        val iters = (1 to 5).map { k =>
          s"""r$k AS (SELECT e.dst AS id,
             |  CAST(150000 + (850000 * sum(r${k - 1}.r // e.deg))
             |    // 1000000 AS BIGINT) AS r
             |  FROM e JOIN r${k - 1} ON r${k - 1}.id = e.src
             |  GROUP BY e.dst)""".stripMargin
        }.mkString(",\n")
        s"""WITH $contractedPairsSqlCtes,
           |edges0 AS (SELECT a_id AS src, b_id AS dst FROM pairs
           |  UNION ALL SELECT b_id, a_id FROM pairs),
           |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
           |  FROM edges0 GROUP BY src),
           |e AS (SELECT edges0.src AS src, edges0.dst AS dst, deg.deg
           |  FROM edges0 JOIN deg ON edges0.src = deg.src),
           |r0 AS (SELECT src AS id, CAST(1000000 AS BIGINT) AS r
           |  FROM deg),
           |$iters
           |SELECT id AS doc_id, r AS rank_ppm FROM r5
           |ORDER BY rank_ppm DESC, doc_id ASC LIMIT 20""".stripMargin
      }),

    // X72 triangle census of the near-dup candidate graph — motif
    // analytics beyond q92's connected components and q167's
    // centrality: a node whose neighborhood CLOSES (high local
    // clustering = triangles/possible wedge pairs) sits in a dense
    // template family (boilerplate farm, mirror ring — safe to collapse
    // aggressively), while a high-degree node with NO closure is a hub
    // stitching unrelated docs (usually an LSH band collision —
    // collapse would over-merge; q158's keep policies need the
    // distinction). Exactness: triangle counts and the closure ratio
    // closure_ppm = 2e6·tri DIV (deg·(deg−1)) are all-integer. Scale
    // shape: the a<b<c enumeration is TWO equi-joins on node ids over
    // the contracted edge table (bounded by LSH band collisions, never
    // corpus-pairwise; the contraction kills the O(copies²) verbatim
    // cliques) — each triangle is built exactly once from its ordered
    // vertex triple; per-node counts via explode + partial+final agg;
    // top-20 via TakeOrdered, never a global sort.
    Q("q170_triangle_census",
      (s, d) => {
        val pairs = contractedPairs(s, d).transform(ops.Materialize.cut)
        val deg = pairs.select(col("a_id").as("node"))
          .unionByName(pairs.select(col("b_id").as("node")))
          .groupBy("node").agg(count(lit(1)).as("deg"))
        val tri = pairs.as("ab")
          .join(pairs.as("bc"), col("ab.b_id") === col("bc.a_id"))
          .join(pairs.as("ac"),
            col("ab.a_id") === col("ac.a_id") &&
              col("bc.b_id") === col("ac.b_id"))
          .select(col("ab.a_id").as("x"), col("ab.b_id").as("y"),
            col("bc.b_id").as("z"))
        val triN = tri
          .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
          .groupBy("node").agg(count(lit(1)).as("tri"))
        deg.join(triN, Seq("node"), "left")
          .withColumn("tri", coalesce(col("tri"), lit(0L)))
          .withColumn("closure_ppm", when(col("deg") >= 2,
            expr("(2000000 * tri) DIV (deg * (deg - 1))"))
            .otherwise(lit(0L)))
          .orderBy(col("tri").desc, col("node").asc).limit(20)
          .select(col("node").as("doc_id"), col("deg"), col("tri"),
            col("closure_ppm"))
      },
      Some(s"""WITH $contractedPairsSqlCtes,
              |tr AS (
              |  SELECT ab.a_id AS x, ab.b_id AS y, bc.b_id AS z
              |  FROM pairs ab
              |  JOIN pairs bc ON ab.b_id = bc.a_id
              |  JOIN pairs ac ON ab.a_id = ac.a_id AND bc.b_id = ac.b_id),
              |nodes AS (SELECT a_id AS node FROM pairs
              |  UNION ALL SELECT b_id FROM pairs),
              |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
              |  FROM nodes GROUP BY node),
              |tn0 AS (SELECT x AS node FROM tr
              |  UNION ALL SELECT y FROM tr UNION ALL SELECT z FROM tr),
              |tn AS (SELECT node, CAST(count(*) AS BIGINT) AS tri
              |  FROM tn0 GROUP BY node)
              |SELECT deg.node AS doc_id, deg.deg,
              |  CAST(coalesce(tn.tri, 0) AS BIGINT) AS tri,
              |  CAST(CASE WHEN deg.deg >= 2
              |    THEN (2000000 * coalesce(tn.tri, 0))
              |      // (deg.deg * (deg.deg - 1))
              |    ELSE 0 END AS BIGINT) AS closure_ppm
              |FROM deg LEFT JOIN tn ON tn.node = deg.node
              |ORDER BY tri DESC, doc_id ASC LIMIT 20""".stripMargin)),

    // X77 label propagation over the near-dup candidate graph (Raghavan
    // et al. 2007, 2 synchronous rounds, deterministic majority with
    // (count DESC, label ASC) tiebreak) — the source-coherence audit of
    // near-dup communities: seed every node with its source label; if
    // neighborhoods converge to single source labels, duplication is
    // intra-source (dedup can shard by source); nodes that FLIP source
    // are mirror/syndication edges (X58's cross-source matrix at node
    // granularity). Exactness: counts are integers, the argmax is the
    // associative min(struct(−cnt, label)) — no window, no
    // nondeterministic first().
    // Scale shape: the graph is contracted to one node per DISTINCT
    // TEXT (the X71/X72 rule); each round is one edge⋈labels equi-join
    // + two partial+final aggs over the cut edge list — fixed
    // round count, monotone shuffle volume, q167's cost class.
    Q("q176_label_propagation",
      (s, d) => {
        val pairs = contractedPairs(s, d)
        val edges = pairs
          .select(col("a_id").as("src"), col("b_id").as("dst"))
          .unionByName(pairs
            .select(col("b_id").as("src"), col("a_id").as("dst")))
          .transform(ops.Materialize.cut)
        val init = edges.select(col("src").as("id")).distinct()
          .join(documents(s, d)
            .select(col("doc_id").as("id"), col("source").as("lbl")),
            "id")
          .transform(ops.Materialize.cut)
        def propagate(cur: org.apache.spark.sql.DataFrame) =
          edges.join(cur.select(col("id").as("dst"), col("lbl")), "dst")
            .groupBy(col("src"), col("lbl"))
            .agg(count(lit(1)).as("cnt"))
            .groupBy(col("src"))
            .agg(min(struct((-col("cnt")).as("nc"), col("lbl").as("lbl")))
              .as("m"))
            .select(col("src").as("id"), col("m.lbl").as("lbl"))
        val fin = propagate(propagate(init))
        fin.join(init.select(col("id"), col("lbl").as("lbl0")), "id")
          .groupBy(col("lbl"))
          .agg(count(lit(1)).as("n_nodes"),
            sum(when(col("lbl") =!= col("lbl0"), 1L).otherwise(0L))
              .as("n_converted"))
          .orderBy("lbl")
      },
      Some(s"""WITH $contractedPairsSqlCtes,
              |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
              |  UNION ALL SELECT b_id, a_id FROM pairs),
              |init AS (
              |  SELECT n.id, d.source AS lbl
              |  FROM (SELECT DISTINCT src AS id FROM edges) n
              |  JOIN documents d ON d.doc_id = n.id),
              |c1 AS (SELECT e.src, i.lbl, count(*) AS cnt
              |  FROM edges e JOIN init i ON i.id = e.dst GROUP BY 1, 2),
              |l1 AS (SELECT src AS id, lbl FROM (
              |  SELECT src, lbl, row_number() OVER (PARTITION BY src
              |    ORDER BY cnt DESC, lbl ASC) AS rn FROM c1)
              |  WHERE rn = 1),
              |c2 AS (SELECT e.src, i.lbl, count(*) AS cnt
              |  FROM edges e JOIN l1 i ON i.id = e.dst GROUP BY 1, 2),
              |l2 AS (SELECT src AS id, lbl FROM (
              |  SELECT src, lbl, row_number() OVER (PARTITION BY src
              |    ORDER BY cnt DESC, lbl ASC) AS rn FROM c2)
              |  WHERE rn = 1)
              |SELECT l2.lbl, CAST(count(*) AS BIGINT) AS n_nodes,
              |  CAST(sum(CASE WHEN l2.lbl != init.lbl THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_converted
              |FROM l2 JOIN init ON init.id = l2.id
              |GROUP BY l2.lbl ORDER BY l2.lbl""".stripMargin)),

    // Multimodal plumbing: opaque binary column + typed metadata. The
    // text bytes are no media format, so width and height are fixed
    // functions of the byte length; q131–q133 and q189 decode real
    // codecs (ops/Multimodal, ops/MultimodalAv).
    Q("q52_binary_meta",
      (s, d) => documents(s, d)
        .select(col("doc_id"), col("text").cast("binary").as("blob"))
        .select(col("doc_id"),
          length(col("blob")).as("n_bytes"),
          pmod(length(col("blob")), lit(640)).as("fake_width"),
          pmod(length(col("blob")) * 7, lit(480)).as("fake_height"),
          md5(col("blob")).as("content_hash"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CAST(octet_length(CAST(text AS BLOB)) AS INT) AS n_bytes,
             |  CAST(octet_length(CAST(text AS BLOB)) % 640 AS INT)
             |    AS fake_width,
             |  CAST((octet_length(CAST(text AS BLOB)) * 7) % 480 AS INT)
             |    AS fake_height,
             |  md5(text) AS content_hash
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // X43 perceptual image near-dup (pHash) — the MULTIMODAL member of
    // the dedup family: resize/re-encode copies that exact byte hashing
    // (q52's md5) can never pair. Corpus: deterministic synthetic PNGs
    // (one per doc_id < 200) plus a bilinear-resized re-encoded twin per
    // image at id+100000 (ops/Multimodal.syntheticImageCorpus — real
    // ImageIO codecs end-to-end; the renderer stands in for an image
    // binary column, the testdata blobs being text bytes). Pipeline:
    // per-partition decode → 32×32 DCT pHash (8-byte hash is all that
    // shuffles, never pixels) → 4×16-bit Hamming-band equi-join (X2d's
    // SimHash shape; any pair within distance 3 shares a band by
    // pigeonhole — deterministic recall at the declared threshold) →
    // exact bit_count filter. Measured separation on this corpus: twins
    // ≤2 bits, unrelated ≥16 — the threshold sits in a 14-bit margin.
    // No SQL oracle (DuckDB cannot decode PNG or replay the DCT);
    // verify_local bounds-checks the CONSTRUCTION invariant instead:
    // the output must be exactly {(id, id+100000)} over the base ids,
    // each with dist ≤ 3 (same class as q106's sketch-guarantee check).
    Q("q131_phash_neardup",
      (s, d) => {
        import graft.ops.{Multimodal, MultimodalAv}
        val ids = documents(s, d).filter(col("doc_id") < 200)
          .select("doc_id")
        val corpus = Multimodal.syntheticImageCorpus(ids, 100000L)
        // r16: materialize the tiny (doc_id, fp) table before the
        // Hamming-band self-join — exchange reuse does not fire across
        // the aliased sides, so both sides re-ran the PNG encode+decode
        MultimodalAv.hammingNearDup(
          Multimodal.perceptualHash(corpus).transform(ops.Materialize.cut),
          "doc_id", "phash", 3)
          .orderBy("a_id", "b_id")
      },
      None),

    // X44 audio near-dup — the AUDIO member of the dedup family:
    // resampled/re-encoded clips that byte hashing can never pair.
    // Corpus: deterministic two-voice synthetic score per id, encoded as
    // real WAV (javax.sound — the JDK's own RIFF codec), plus a planted
    // twin at id+100000: the same clip linear-resampled 8 kHz → 5.512 kHz
    // and re-encoded. Pipeline: per-partition WAV decode → 64-bit
    // chromaprint-family fingerprint (Goertzel band energies over 32
    // duration-fraction slices, sign-of-cross-voice-comparison bits —
    // gain- and resample-invariant; only the 8-byte fingerprint ever
    // shuffles) → the X2d/X43 4×16-bit Hamming-band equi-join → exact
    // bit_count ≤ 3 (pigeonhole ⇒ deterministic recall). Measured
    // separation over 200 ids: twins drift 0 bits, unrelated ≥ 13.
    // No SQL oracle (DuckDB cannot decode WAV or replay Goertzel);
    // verify_local bounds-checks the construction invariant: output ==
    // exactly {(id, id+100000)}, dist ∈ [0,3] (q131's check class).
    Q("q132_audio_neardup",
      (s, d) => {
        import graft.ops.MultimodalAv
        val ids = documents(s, d).filter(col("doc_id") < 150)
          .select("doc_id")
        val corpus = MultimodalAv.syntheticAudioCorpus(ids, 100000L)
        // r16: materialize the fingerprints once (q131's rationale —
        // the WAV synth+decode otherwise runs on both self-join sides)
        MultimodalAv.hammingNearDup(
          MultimodalAv.audioFingerprints(corpus).transform(ops.Materialize.cut),
          "doc_id", "afp", 3)
          .orderBy("a_id", "b_id")
      },
      None),

    // X45 video scene dedup — the VIDEO member: clips sharing scenes
    // under re-encode/resize, via real multi-frame containers (animated
    // GIF through ImageIO's sequence codec — palette quantization, LZW).
    // Corpus: 6-frame clip per id + a planted twin at id+100000 with
    // every frame bilinear-resized to 3/4 and the clip re-encoded.
    // Pipeline: per-partition frame sampling (every 2nd frame) → per-
    // frame DCT pHash (X43's hash; 8-byte rows leave the seam, frames
    // never shuffle) → Hamming-band equi-join on frame hashes → exact
    // bit_count ≤ 3 → matched frames counted per clip pair, pairs with
    // ≥ 2 shared scenes survive. Twin frames measure ≤ 2 bits except one
    // frame in 360 at 4 (GIF palette quantization on top of the resize),
    // unrelated ≥ 16 — the ≥2-of-3 scene threshold is exactly why real
    // scene-overlap detectors don't require every frame to re-match.
    // No SQL oracle (no GIF/DCT in DuckDB); verify_local checks the
    // construction invariant: output == planted pairs, frames_matched
    // ∈ [2, 3].
    Q("q133_video_scene_dedup",
      (s, d) => {
        import graft.ops.MultimodalAv
        val ids = documents(s, d).filter(col("doc_id") < 120)
          .select("doc_id")
        val corpus = MultimodalAv.syntheticVideoCorpus(ids, 100000L)
        // r16: materialize the frame-hash table once (q131's rationale —
        // the GIF synth+decode otherwise runs on both self-join sides)
        MultimodalAv.sceneDupPairs(
          MultimodalAv.sampleFrameHashes(corpus, 2)
            .transform(ops.Materialize.cut),
          3, 2)
          .orderBy("a_id", "b_id")
      },
      None),

    // X82 cross-modal caption↔image consistency audit — the pairing
    // check a multimodal training pipeline runs before trusting
    // (image, caption) rows: the caption leg PARSES each caption's
    // declared attributes (regexp_extract — codegen, text side), the
    // image leg RECOVERS the same attributes from decoded pixels
    // (ops/Multimodal.gridAttributes — per-partition ImageIO decode,
    // only narrow (id, int, int) rows leave the seam), and the audit
    // joins the two modalities on doc_id and flags disagreement.
    // Corpus: one grid PNG per doc_id < 300 plus a generated caption
    // describing its measurable content; ids with id % 7 == 3 get a
    // caption generated from id+1's content — the planted swapped-
    // caption mismatch class. PNG is lossless, so pixel-derived and
    // id-derived attributes agree EXACTLY for honest pairs; a planted
    // mismatch escapes only if id and id+1 coincidentally share both
    // attributes (1/64 × 1/8 per attribute pair — verify_local replays
    // the splitmix64 truth function in python and checks the flag
    // row-exactly, coincidences included).
    // No SQL oracle (DuckDB cannot decode PNG); bounds-gated like
    // q131–q133. Scale shape: both legs are narrow projections of one
    // (blob, caption) table — column pruning sends blobs only through
    // the decode seam and text only through the parser; the join is
    // doc_id-keyed co-shuffle of two already-narrow sides; pixels and
    // captions never meet in one row until reduced to ints.
    Q("q189_caption_consistency",
      (s, d) => {
        import graft.ops.Multimodal
        val ids = documents(s, d).filter(col("doc_id") < 300)
          .select("doc_id")
        val corpus = Multimodal.captionedImageCorpus(ids)
        val img = Multimodal.gridAttributes(
          corpus.select(col("doc_id"), col("blob")))
        val cap = corpus.select(col("doc_id"),
          regexp_extract(col("caption"), "brightest cell (\\d+)", 1)
            .cast("int").as("cap_bright"),
          regexp_extract(col("caption"), "mean bucket (\\d+)", 1)
            .cast("int").as("cap_bucket"))
        cap.join(img, "doc_id")
          .select(col("doc_id"), col("cap_bright"), col("img_bright"),
            col("cap_bucket"), col("img_bucket"),
            when(col("cap_bright") === col("img_bright") &&
              col("cap_bucket") === col("img_bucket"), 1)
              .otherwise(0).as("consistent"))
          .orderBy("doc_id")
      },
      None),

    // X88 2-core decomposition of the near-dup candidate graph (fixed
    // 8-round peel) — the degeneracy view the component/centrality/
    // closure ops (X18/X71/X72) don't give: nodes surviving iterated
    // removal of degree-<2 nodes sit on CYCLES of the candidate graph
    // (mutually corroborated near-dup structure — safe to collapse
    // aggressively), while peeled nodes hang off trees (single
    // uncorroborated band collisions — the over-merge risk X72 flags
    // by closure). DECLARED SEMANTICS: exactly 8 peel rounds — peeling
    // is idempotent at its fixpoint, so whenever the fixpoint arrives
    // within 8 rounds (it does at every tested sf; the invariant spec
    // asserts a 9th peel changes nothing) the result IS the true
    // 2-core, and both engines compute the identical fixed-round form
    // by construction (q167's fixed-iteration contract). EARLY EXIT
    // (round 12, VERDICT r11 #4): each peel round's edge set is a
    // SUBSET of the previous (both semi-joins only remove rows), so an
    // unchanged edge COUNT proves the edge set itself is unchanged —
    // a monotonicity argument, so no per-round label comparison (the
    // changed-label count ConnectedComponents.labelMinProp needs for its
    // non-monotone label updates). Remaining rounds are no-ops by
    // idempotence, so exiting is bit-identical to running all 8 (the
    // DuckDB oracle still replays the fixed-8 form — same fixpoint).
    // The count is one cheap action over the already-cut
    // round result and saves up to ~5 exchange-barrier rounds of the
    // measured 0.6–1.0 s iterative-tier floor (SCALE.md round-floor
    // section).
    // Scale shape: graph contracted to one node per DISTINCT TEXT
    // (the X71 rule); each round = one partial+final degree agg + two
    // semi-joins over the round's edge list, cut each round (the
    // edge set is referenced twice per round — q92's lineage rule);
    // edge volume is monotonically non-increasing, so 8 rounds cost
    // at most 8× one edge pass. No windows, no collect.
    Q("q196_kcore_peel",
      (s, d) => {
        val pairs = contractedPairs(s, d)
        var e = pairs
          .select(col("a_id").as("src"), col("b_id").as("dst"))
          .unionByName(pairs
            .select(col("b_id").as("src"), col("a_id").as("dst")))
          .transform(ops.Materialize.cut)
        var prevN = e.count()
        var round = 0
        var done = false
        while (round < 8 && !done) {
          val keep = e.groupBy("src").agg(count(lit(1)).as("deg"))
            .filter(col("deg") >= 2)
            .select(col("src").as("k"))
          e = e.join(keep, col("src") === col("k"), "left_semi")
            .join(keep, col("dst") === col("k"), "left_semi")
            .transform(ops.Materialize.cut)
          val n = e.count()
          done = n == prevN // subset + equal count = identical set
          prevN = n
          round += 1
        }
        e.groupBy(col("src").as("doc_id"))
          .agg(count(lit(1)).as("core_deg"))
          .orderBy("doc_id")
      },
      Some {
        // each round references the previous edge set THREE times (the
        // degree agg + both endpoint filters); DuckDB inlines plain CTEs,
        // which would cube the plan per round (3^8 leaf scans — observed
        // as a too-many-open-files explosion), so every round CTE is
        // AS MATERIALIZED — evaluated once, exactly like the Spark
        // side's per-round Materialize.cut
        val rounds = (1 to 8).map { k =>
          s"""keep$k AS MATERIALIZED (SELECT src AS n FROM e${k - 1}
             |  GROUP BY src HAVING count(*) >= 2),
             |e$k AS MATERIALIZED (SELECT e.src, e.dst FROM e${k - 1} e
             |  WHERE e.src IN (SELECT n FROM keep$k)
             |    AND e.dst IN (SELECT n FROM keep$k))""".stripMargin
        }.mkString(",\n")
        s"""WITH $contractedPairsSqlCtes,
           |e0 AS MATERIALIZED (
           |  SELECT a_id AS src, b_id AS dst FROM pairs
           |  UNION ALL SELECT b_id, a_id FROM pairs),
           |$rounds
           |SELECT src AS doc_id, CAST(count(*) AS BIGINT) AS core_deg
           |FROM e8 GROUP BY src ORDER BY doc_id""".stripMargin
      }),
  )
}
