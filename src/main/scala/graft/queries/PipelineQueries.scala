package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.{Conversations, Graph, Packing, Profiling, Sampling, Windows}

/** Pipeline-support operators a 100 TB curation stack runs around the
  * transforms themselves: dataset profiling (the pre/post-flight
  * check), deterministic global training-order shuffle, and link-graph
  * centrality (the Common-Crawl-style quality prior). All three carry
  * full DuckDB oracles — the profile is exact counts, the shuffle and
  * PageRank are integer/md5 arithmetic, so every engine agrees bit-for-bit.
  */
object PipelineQueries {

  val qs: Seq[Q] = Seq(

    // ---- one-scan multi-column profile: rows/nulls/distincts/min/max
    //      per column in a single agg pass (Expand plan), unpivoted to
    //      one row per column ----
    Q("q102_profile",
      (s, dir) => {
        Profiling.profile(Tables.load(s, dir, "lineitem"),
          Seq("l_orderkey", "l_suppkey", "l_returnflag", "l_shipdate"))
      },
      Some("""SELECT 'l_orderkey' AS column_name,
                     CAST(count(*) AS BIGINT) AS n_rows,
                     CAST(count(*) - count(l_orderkey) AS BIGINT) AS n_nulls,
                     CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
                     CAST(min(l_orderkey) AS VARCHAR) AS min_value,
                     CAST(max(l_orderkey) AS VARCHAR) AS max_value
              FROM lineitem
              UNION ALL
              SELECT 'l_suppkey',
                     CAST(count(*) AS BIGINT),
                     CAST(count(*) - count(l_suppkey) AS BIGINT),
                     CAST(count(DISTINCT l_suppkey) AS BIGINT),
                     CAST(min(l_suppkey) AS VARCHAR),
                     CAST(max(l_suppkey) AS VARCHAR)
              FROM lineitem
              UNION ALL
              SELECT 'l_returnflag',
                     CAST(count(*) AS BIGINT),
                     CAST(count(*) - count(l_returnflag) AS BIGINT),
                     CAST(count(DISTINCT l_returnflag) AS BIGINT),
                     CAST(min(l_returnflag) AS VARCHAR),
                     CAST(max(l_returnflag) AS VARCHAR)
              FROM lineitem
              UNION ALL
              SELECT 'l_shipdate',
                     CAST(count(*) AS BIGINT),
                     CAST(count(*) - count(l_shipdate) AS BIGINT),
                     CAST(count(DISTINCT l_shipdate) AS BIGINT),
                     CAST(min(l_shipdate) AS VARCHAR),
                     CAST(max(l_shipdate) AS VARCHAR)
              FROM lineitem""")),

    // ---- deterministic global training-order shuffle: position =
    //      distributed row number over md5(seed ‖ id) — the "shuffle
    //      once, stream forever" ordering every trainer wants, without
    //      the single-task global window (Windows.globalRowNumber is
    //      the two-phase range-partitioned form) ----
    Q("q103_shuffle_order",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            md5(concat(lit("shuf42:"), col("doc_id").cast("string")))
              .as("shuffle_key"))
        Windows.globalRowNumber(d, Seq(col("shuffle_key"), col("doc_id")), "pos")
          .select(col("pos"), col("doc_id"), col("shuffle_key"))
      },
      Some("""SELECT row_number() OVER (
                       ORDER BY md5('shuf42:' || CAST(doc_id AS VARCHAR)), doc_id)
                       AS pos,
                     doc_id,
                     md5('shuf42:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
              FROM documents""")),

    // ---- link-graph centrality: integer-arithmetic PageRank over the
    //      customer↔supplier trade graph (both directions, so no node
    //      dangles; supplier ids offset into their own namespace).
    //      3 power iterations; rank mass in units of 1e-12 — BIGINT the
    //      whole way, so partitioning/order can't perturb a single bit ----
    Q("q104_pagerank",
      (s, dir) => {
        val o = Tables.load(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        val l = Tables.load(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        // distinct the 1-direction pairs BEFORE doubling directions:
        // half the dedup shuffle volume, and the direction union stays
        // distinct for free (cust and supp+10M are disjoint keyspaces)
        val pairs = o.join(l, col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("cust"),
            (col("l_suppkey") + lit(10000000L)).as("supp"))
          .distinct()
        val edges = pairs.select(col("cust").as("src"), col("supp").as("dst"))
          .unionAll(pairs.select(col("supp").as("src"), col("cust").as("dst")))
        // the symmetrized trade graph gives every node an in-edge, so
        // the per-round nodes join is provably redundant
        Graph.pageRank(edges, "src", "dst", iterations = 3,
          assumeDistinct = true, allNodesReceive = true)
          .select(col("node"), col("rank_scaled"))
      },
      Some("""WITH pairs AS (
                SELECT DISTINCT o_custkey AS cust, l_suppkey + 10000000 AS supp
                FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
              e AS (
                SELECT cust AS src, supp AS dst FROM pairs
                UNION
                SELECT supp AS src, cust AS dst FROM pairs),
              nodes AS (SELECT DISTINCT src AS node FROM e
                        UNION SELECT DISTINCT dst FROM e),
              outdeg AS (SELECT src, CAST(count(*) AS BIGINT) AS od
                         FROM e GROUP BY 1),
              r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS r FROM nodes),
              c1 AS (SELECT e.dst, CAST(sum((r0.r // od.od)) AS BIGINT) AS s
                     FROM r0 JOIN outdeg od ON r0.node = od.src
                             JOIN e ON r0.node = e.src
                     GROUP BY 1),
              r1 AS (SELECT n.node,
                            (15 * 1000000000000 + 85 * COALESCE(c1.s, 0)) // 100 AS r
                     FROM nodes n LEFT JOIN c1 ON n.node = c1.dst),
              c2 AS (SELECT e.dst, CAST(sum((r1.r // od.od)) AS BIGINT) AS s
                     FROM r1 JOIN outdeg od ON r1.node = od.src
                             JOIN e ON r1.node = e.src
                     GROUP BY 1),
              r2 AS (SELECT n.node,
                            (15 * 1000000000000 + 85 * COALESCE(c2.s, 0)) // 100 AS r
                     FROM nodes n LEFT JOIN c2 ON n.node = c2.dst),
              c3 AS (SELECT e.dst, CAST(sum((r2.r // od.od)) AS BIGINT) AS s
                     FROM r2 JOIN outdeg od ON r2.node = od.src
                             JOIN e ON r2.node = e.src
                     GROUP BY 1),
              r3 AS (SELECT n.node,
                            (15 * 1000000000000 + 85 * COALESCE(c3.s, 0)) // 100 AS r
                     FROM nodes n LEFT JOIN c3 ON n.node = c3.dst)
              SELECT node, CAST(r AS BIGINT) AS rank_scaled FROM r3""")),

    // ---- token-budget corpus fill: whole sources admitted in priority
    //      order (avg doc length desc — integer div, exact), a
    //      deterministic md5-prefix from the one boundary source, the
    //      rest excluded; 60% budget, BIGINT arithmetic throughout ----
    Q("q107_token_budget",
      (s, dir) => {
        graft.ops.Sampling.tokenBudgetFill(
          Tables.load(s, dir, "documents"),
          col("source"), col("n_chars"), col("doc_id"),
          budgetPermille = 600,
          priority = expr("sum(n_chars) div count(1)"),
          salt = "budget1")
      },
      Some("""WITH src AS (
                SELECT source AS s, CAST(sum(n_chars) AS BIGINT) AS w,
                       sum(n_chars) // count(*) AS prio
                FROM documents GROUP BY 1),
              tot AS (SELECT sum(w) AS tot FROM src),
              tiers AS (
                SELECT s, w,
                       tot.tot * 600 // 1000 AS budget,
                       sum(w) OVER (ORDER BY prio DESC, s ASC) AS cum
                FROM src, tot),
              t2 AS (
                SELECT s,
                       CASE WHEN cum <= budget THEN 'full'
                            WHEN cum - w < budget THEN 'partial'
                            ELSE 'excluded' END AS tier,
                       CASE WHEN cum <= budget THEN 0
                            WHEN cum - w < budget THEN budget - (cum - w)
                            ELSE 0 END AS rem
                FROM tiers),
              docs AS (
                SELECT d.doc_id AS id, d.source,
                       CAST(d.n_chars AS BIGINT) AS weight, t2.tier, t2.rem,
                       sum(CAST(d.n_chars AS BIGINT)) OVER (
                         PARTITION BY d.source
                         ORDER BY md5(CAST(d.doc_id AS VARCHAR) || 'budget1'),
                                  d.doc_id) AS dcum
                FROM documents d JOIN t2 ON d.source = t2.s)
              SELECT id, source, weight, tier,
                     CASE WHEN tier = 'full' THEN TRUE
                          WHEN tier = 'partial' THEN dcum <= rem
                          ELSE FALSE END AS selected
              FROM docs""")),

    // ---- vocabulary coverage curve: share of token occurrences
    //      covered by the top-k tokens, k ∈ {10,100,1000} — the
    //      tokenizer-sizing diagnostic; top-k via TakeOrdered (partial
    //      per-partition top-k), shares in exact integer ppm ----
    Q("q108_vocab_coverage",
      (s, dir) => {
        graft.ops.TextAnalysis.vocabCoverage(
          Tables.load(s, dir, "documents"), "text", Seq(10, 100, 1000))
      },
      Some("""WITH f AS (
                SELECT token, CAST(count(*) AS BIGINT) AS c
                FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
                        AS token
                      FROM documents)
                WHERE length(token) > 0
                GROUP BY token),
              tot AS (SELECT sum(c) AS tot FROM f),
              top AS (SELECT c,
                             row_number() OVER (ORDER BY c DESC, token ASC) AS rn
                      FROM f),
              ks AS (SELECT unnest([10, 100, 1000]) AS k)
              SELECT ks.k,
                     CAST(sum(top.c) AS BIGINT) AS covered,
                     CAST(tot.tot AS BIGINT) AS total_tokens,
                     CAST(sum(top.c) * 1000000 // tot.tot AS BIGINT) AS coverage_ppm
              FROM ks JOIN top ON top.rn <= ks.k, tot
              GROUP BY ks.k, tot.tot""")),

    // ---- distribution drift between corpus snapshots (odd vs even
    //      doc_id as new vs old): per-bucket counts, exact-ppm shares
    //      and gap, plus the PSI summand (the one IEEE double, NULL on
    //      new/vanished buckets) over doc-length centile buckets ----
    Q("q109_drift",
      (s, dir) => {
        graft.ops.Profiling.drift(
            Tables.load(s, dir, "documents"),
            sliceCol = col("doc_id") % 2 === 1,
            bucketCol = least(expr("n_chars div 100"), lit(19L)))
          .select(col("bucket"), col("n_old"), col("n_new"),
            col("share_old_ppm"), col("share_new_ppm"), col("gap_ppm"),
            graft.ops.Numeric.roundAway(col("psi_term"), 6).as("psi_term"))
      },
      Some("""WITH b AS (
                SELECT least(n_chars // 100, 19) AS bucket,
                       (doc_id % 2 = 1) AS isnew
                FROM documents),
              c AS (
                SELECT bucket,
                       CAST(sum(CASE WHEN NOT isnew THEN 1 ELSE 0 END) AS BIGINT)
                         AS n_old,
                       CAST(sum(CASE WHEN isnew THEN 1 ELSE 0 END) AS BIGINT)
                         AS n_new
                FROM b GROUP BY 1),
              t AS (SELECT sum(n_old) AS t_old, sum(n_new) AS t_new FROM c)
              SELECT bucket, n_old, n_new,
                     CAST(n_old * 1000000 // t.t_old AS BIGINT) AS share_old_ppm,
                     CAST(n_new * 1000000 // t.t_new AS BIGINT) AS share_new_ppm,
                     CAST(abs(n_old * 1000000 // t.t_old
                              - n_new * 1000000 // t.t_new) AS BIGINT) AS gap_ppm,
                     CASE WHEN n_old > 0 AND n_new > 0 THEN
                       round((CAST(n_new AS DOUBLE) / t.t_new
                              - CAST(n_old AS DOUBLE) / t.t_old)
                             * ln((CAST(n_new AS DOUBLE) / t.t_new)
                                  / (CAST(n_old AS DOUBLE) / t.t_old)), 6)
                     END AS psi_term
              FROM c, t""")),

    // ---- deterministic mixture-interleave (stride scheduling): every
    //      source appears in any prefix ≈ proportionally to its size;
    //      exact integer stride keys, two-phase global position ----
    Q("q125_mixture_schedule",
      (s, dir) => graft.ops.Sampling.mixtureSchedule(
        Tables.load(s, dir, "documents"),
        col("source"), col("doc_id"), salt = "mix1"),
      Some("""WITH w AS (
                SELECT source AS s, CAST(count(*) AS BIGINT) AS w
                FROM documents GROUP BY 1),
              r AS (
                SELECT doc_id AS id, source AS s,
                       row_number() OVER (PARTITION BY source
                         ORDER BY md5(CAST(doc_id AS VARCHAR) || 'mix1'),
                                  doc_id) AS r
                FROM documents),
              k AS (
                SELECT r.id, r.s, r.r,
                       CAST((2 * CAST(r.r AS HUGEINT) - 1) * 1000000000000
                            // (2 * w.w) AS BIGINT) AS stride_key
                FROM r JOIN w USING (s))
              SELECT row_number() OVER (ORDER BY stride_key, s, r) AS pos,
                     s AS source, id, stride_key
              FROM k""")),

    // ---- connected components (min-label with pointer doubling,
    //      convergence-detected): consecutive-user chain graph keeps
    //      the oracle's recursive closure sparse; the operator itself
    //      is the general entity-resolution / cluster-split primitive ----
    Q("q119_connected_components",
      (s, dir) => {
        val u = Tables.load(s, dir, "events")
          .select(col("user_id")).where(col("user_id").isNotNull).distinct()
        val edges = u.select(col("user_id").as("a"),
            (col("user_id") + 1L).as("b"))
          .where(col("a") % 5 =!= 4)
          .join(u.select(col("user_id").as("b")), Seq("b"), "leftsemi")
        Graph.connectedComponents(edges, "a", "b")
      },
      Some("""WITH RECURSIVE u AS (
                SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL),
              d AS (
                SELECT a.user_id AS a, a.user_id + 1 AS b
                FROM u a JOIN u b2 ON b2.user_id = a.user_id + 1
                WHERE a.user_id % 5 <> 4),
              eu AS (SELECT a, b FROM d UNION SELECT b, a FROM d),
              n AS (SELECT DISTINCT a AS node FROM eu),
              reach(node, lbl) AS (
                SELECT node, node FROM n
                UNION
                SELECT eu.b, reach.lbl
                FROM reach JOIN eu ON reach.node = eu.a)
              SELECT node, CAST(min(lbl) AS BIGINT) AS comp
              FROM reach GROUP BY 1""")),

    // ---- exact 7-day rolling active users: the non-decomposable
    //      count(DISTINCT) sliding window done with bounded ≤W fan-out
    //      (clipped per-user contribution intervals) instead of the
    //      quadratic day×activity range join the oracle runs ----
    Q("q142_rolling_active",
      (s, dir) => graft.ops.Aggs.rollingDistinct(
        Tables.load(s, dir, "events"),
        to_date(col("ts")), col("user_id"), windowDays = 7),
      Some("""WITH ud AS (
                SELECT DISTINCT CAST(ts AS DATE) AS d, user_id AS k
                FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
              bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM ud),
              grid AS (
                SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE
                         AS day
                FROM bounds)
              SELECT g.day, CAST(count(DISTINCT u.k) AS BIGINT) AS active
              FROM grid g
              LEFT JOIN ud u ON u.d BETWEEN g.day - 6 AND g.day
              GROUP BY 1""")),

    // ---- SFT conversation assembly: 30-min sessionized event streams
    //      become ordered turn transcripts with a hard 8-turn cap and
    //      alternation QA (repeated labels flagged). The oracle rebuilds
    //      every transcript with ordered string_agg, so session split,
    //      turn order, cap, and violation counting must all agree ----
    Q("q170_conversation_assembly",
      (s, dir) => Conversations.assemble(
        Tables.load(s, dir, "events"), "user_id", "ts",
        "event_type", "event_id", gapSeconds = 1800L, maxTurns = 8),
      Some("""WITH flagged AS (
                SELECT event_id, user_id, ts, event_type,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w))
                            > 1800
                       THEN 1 ELSE 0 END AS new_sess
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
              sess AS (
                SELECT *, CAST(sum(new_sess) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS sess_id
                FROM flagged),
              turns AS (
                SELECT *, row_number() OVER ws AS turn_idx,
                       count(*) OVER (PARTITION BY user_id, sess_id)
                         AS n_events
                FROM sess
                WINDOW ws AS (PARTITION BY user_id, sess_id
                              ORDER BY ts, event_id)),
              kept AS (SELECT * FROM turns WHERE turn_idx <= 8),
              v AS (
                SELECT *, CASE WHEN lag(event_type) OVER (
                    PARTITION BY user_id, sess_id ORDER BY turn_idx)
                    = event_type THEN 1 ELSE 0 END AS viol
                FROM kept)
              SELECT user_id, sess_id,
                CAST(max(n_events) AS BIGINT) AS n_events,
                CAST(count(*) AS BIGINT) AS n_turns,
                string_agg(event_type, '>' ORDER BY turn_idx) AS transcript,
                CAST(sum(viol) AS BIGINT) AS n_violations,
                (max(n_events) > 8) AS truncated
              FROM v GROUP BY 1, 2""")),

    // ---- overlapping token-window chunking (retrieval/eval windows
    //      with provenance): 32-token windows advancing 24, last chunk
    //      short. Pure scan → explode — zero shuffles at any scale ----
    Q("q171_chunk_windows",
      (s, dir) => Packing.chunkWindows(
        Tables.load(s, dir, "documents"), "text", "doc_id",
        windowTokens = 32, overlapTokens = 8),
      Some("""WITH t AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(text), '\s+') AS toks
                FROM documents WHERE trim(text) <> ''),
              n AS (
                SELECT doc_id, toks, len(toks) AS n FROM t),
              s AS (
                SELECT doc_id, toks, n,
                       unnest(generate_series(0, n - 1, 24)) AS start
                FROM n)
              SELECT doc_id,
                     CAST(start // 24 AS INTEGER) AS chunk_id,
                     CAST(start AS INTEGER) AS tok_start,
                     CAST(least(32, n - start) AS INTEGER) AS n_chunk_tokens,
                     array_to_string(toks[start + 1 : start + 32], ' ')
                       AS chunk_text
              FROM s""")),

    // ---- concat-and-chunk sequence packing: corpus concatenated in
    //      doc_id order, cut every 512 tokens; docs may span packs and
    //      every pack but the last is exactly full (zero padding). The
    //      oracle runs the textbook single-window prefix sum; the engine
    //      runs Windows.globalRunningSum's two-phase range-partitioned
    //      form (a global ORDER BY window is a one-task scale-killer) —
    //      hash-equality IS the proof the distributed prefix sum agrees
    //      with the sequential definition ----
    Q("q172_sequence_pack",
      (s, dir) => Packing.packSequences(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        maxTokens = 512L),
      Some("""WITH t AS (
                SELECT doc_id,
                       CAST(len(regexp_split_to_array(trim(text), '\s+'))
                            AS BIGINT) AS n
                FROM documents WHERE trim(text) <> ''),
              c AS (
                SELECT doc_id, n,
                       CAST(sum(n) OVER (ORDER BY doc_id) AS BIGINT) AS ca
                FROM t),
              b AS (SELECT doc_id, n, ca, ca - n AS cb FROM c),
              e AS (
                SELECT doc_id, n, cb,
                       unnest(generate_series(cb // 512, (ca - 1) // 512))
                         AS pack_id
                FROM b)
              SELECT CAST(pack_id AS BIGINT) AS pack_id, doc_id,
                     CAST(greatest(pack_id * 512 - cb, 0) AS BIGINT)
                       AS tok_start,
                     CAST(least((pack_id + 1) * 512 - cb, n)
                          - greatest(pack_id * 512 - cb, 0) AS BIGINT)
                       AS n_pack_tokens,
                     CAST(cb + greatest(pack_id * 512 - cb, 0)
                          - pack_id * 512 AS BIGINT) AS pack_offset
              FROM e""")),

    // ---- fractional-epoch mixture replication: src1 at 2.25 epochs,
    //      src2 at 0.5 (downsample), src3 at 3.0, everything else 1.0.
    //      The fractional draw is the portable 48-bit md5 family
    //      against a driver-computed BigInt threshold — the oracle
    //      replays base + draw < thr + generate_series exactly
    //      (thr(0.25) = 2^46, thr(0.5) = 2^47) ----
    Q("q173_epoch_mix",
      (s, dir) => Sampling.epochMix(
        Tables.load(s, dir, "documents"), col("doc_id"), col("source"),
        epochsPpm = Map("src1" -> 2250000L, "src2" -> 500000L,
          "src3" -> 3000000L)),
      Some("""WITH d AS (
                SELECT doc_id, source,
                       CAST(('0x' || substr(md5('mix:' ||
                              CAST(doc_id AS VARCHAR)), 1, 12)) AS UBIGINT)
                         AS draw
                FROM documents),
              c AS (
                SELECT doc_id, source,
                       CASE source WHEN 'src1' THEN 2 WHEN 'src2' THEN 0
                                   WHEN 'src3' THEN 3 ELSE 1 END
                       + CASE WHEN draw < (CASE source
                               WHEN 'src1' THEN 70368744177664
                               WHEN 'src2' THEN 140737488355328
                               ELSE 0 END) THEN 1 ELSE 0 END AS copies
                FROM d)
              SELECT doc_id AS id, source AS domain,
                     CAST(e.ec AS BIGINT) AS epoch_copy
              FROM c, LATERAL (
                SELECT unnest(generate_series(1, copies)) AS ec) e
              WHERE copies > 0""")),

    // ---- RLHF/DPO preference-pair construction: documents play scored
    //      responses (prompt = doc_id mod 97, score = n_chars — heavy
    //      ties, so the lowest-id tiebreak does real work on BOTH the
    //      chosen and rejected pick); per prompt the best and worst
    //      response become one (chosen, rejected) pair, groups whose
    //      margin is under minGap are dropped. One max_by/min_by
    //      hash-agg — no window sort, response texts never shuffle ----
    Q("q181_preference_pairs",
      (s, dir) => graft.ops.Preference.pairs(
        Tables.load(s, dir, "documents"),
        col("doc_id") % 97, col("doc_id"), col("n_chars"), minGap = 1L),
      Some("""WITH r AS (
                SELECT doc_id % 97 AS prompt_id, doc_id, n_chars,
                       row_number() OVER (PARTITION BY doc_id % 97
                         ORDER BY n_chars DESC, doc_id ASC) AS rc,
                       row_number() OVER (PARTITION BY doc_id % 97
                         ORDER BY n_chars ASC, doc_id ASC) AS rr,
                       count(*) OVER (PARTITION BY doc_id % 97) AS n
                FROM documents
                WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL),
              c AS (SELECT prompt_id, doc_id AS chosen_id,
                           n_chars AS chosen_score, n
                    FROM r WHERE rc = 1),
              j AS (SELECT prompt_id, doc_id AS rejected_id,
                           n_chars AS rejected_score
                    FROM r WHERE rr = 1)
              SELECT c.prompt_id, chosen_id, rejected_id,
                     chosen_score, rejected_score,
                     chosen_score - rejected_score AS score_gap,
                     n AS n_responses
              FROM c JOIN j USING (prompt_id)
              WHERE n >= 2 AND chosen_score - rejected_score >= 1""")),

    // ---- the end-to-end trainer feed (round-11 verdict ask #3): the
    //      full curate -> near-dup dedup -> epoch-mix -> pack -> shard
    //      -> export chain as ONE dataflow under ONE oracle. Every
    //      stage is individually oracled (q164 / q35 / q173 / q172 /
    //      q177); this query grades their COMPOSITION — the shape a
    //      real crawl-to-trainer run has (reference analogue: the pull
    //      half runs scrub -> agg -> impute -> write as one DAG,
    //      R/_pull_data.R:368-719). Output: one row per 512-token
    //      training pack with its rendezvous shard and an md5 over the
    //      ordered (doc, copy, start, len) segment descriptors — a
    //      drift anywhere in the chain (a gate flip, a dedup decision,
    //      a mix copy, a pack boundary, a shard pick) moves a digest.
    //      Scale shape: the document text is scanned ONCE into the
    //      curated snapshot; dedup, token counting, and the keep join
    //      read the snapshot; mix is a broadcast join + explode over a
    //      NARROW (id, source, n) frame — text never replicates; the
    //      pack prefix-sum is the two-phase range-partitioned form;
    //      shard assignment is a pure expression; the export writes
    //      segment descriptors partitioned by shard. ----
    Q("q186_trainer_feed",
      (s, dir) => {
        val segs = trainerFeedSegments(s, dir)
        val out = graft.core.Scratch.dir("q186_trainer_feed")
        segs.select(col("__ord"), col("id"), col("epoch_copy"),
            col("pack_id"), col("tok_start"), col("n_pack_tokens"),
            col("shard"))
          // REBALANCE by shard before the partitionBy write (round 18,
          // guide §6): without it every upstream task opens a file per
          // shard it touches (tasks × 8 small files at scale), and the
          // re-read below pays the listing + per-file open cost. AQE
          // sizes the post-shuffle partitions, so hot shards still
          // split across files. Result-identical: the groupBy re-read
          // is layout-blind (pack_md5 sorts its segment list).
          .hint("rebalance", col("shard"))
          .write.mode("overwrite").partitionBy("shard").parquet(out)
        graft.core.Tables.parquet(s, out)
          .groupBy(col("pack_id"), col("shard"))
          .agg(count(lit(1)).as("n_segs"),
            sum(col("n_pack_tokens")).as("n_pack_tokens"),
            md5(array_join(transform(array_sort(collect_list(struct(
              col("__ord"),
              concat_ws(":", col("id").cast("string"),
                col("epoch_copy").cast("string"),
                col("tok_start").cast("string"),
                col("n_pack_tokens").cast("string")).as("d")))),
              x => x.getField("d")), ",")).as("pack_md5"))
      },
      Some(trainerFeedOracle))
  )

  /** q186's pre-export chain (curate -> dedup -> mix -> pack -> shard),
    * exposed for plan probes (exchange-count reading in PLANS.md): the
    * export write consumes exactly this frame.
    */
  private[graft] def trainerFeedSegments(
      s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    import graft.ops.{Dedup, Layout, TextAnalysis => TA, WebText => WT}
    val stop = Seq("the", "a", "of", "and", "to", "in", "is")
    val html = concat(lit(WebTextQueries.pagePrefix),
      col("doc_id").cast("string"), lit(WebTextQueries.pageMid),
      col("text"), lit(WebTextQueries.pageSuffix))
    val cleaned = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"), WT.htmlToText(html).as("clean0"))
    val gated = cleaned.where(
      graft.ops.Numeric.roundAway(
        TA.qualityScore(col("clean0"), stop), 6) >= 0.5)
    // snapshot the curated corpus once: the dedup decision, the
    // token-count leg, and the keep join all fan out from it
    val curated = graft.core.Checkpoints.sessionCk(
      WT.sentenceDedupText(gated, "clean0", "doc_id",
        carryCols = Seq("source"))
        .select(col("doc_id"), col("source"), col("clean")))
    val dec = Dedup.minhashDedup(curated, "clean", "doc_id",
      shingleN = 3, numHashes = 32, bands = 8, threshold = 0.5,
      portable = true)
    val keepIds = dec.where(!col("is_dup")).select(col("doc_id"))
    // narrow feed: text stays in the snapshot, only (id, source, n)
    // flows into mix/pack — copies replicate counts, never bytes
    val narrow = curated
      .where(length(trim(col("clean"))) > 0)
      .select(col("doc_id"), col("source"),
        TA.tokenCount(col("clean")).cast("long").as("__n"))
      .join(keepIds, Seq("doc_id"))
    val mixed = Sampling.epochMix(narrow, col("doc_id"), col("source"),
      epochsPpm = Map("src1" -> 2250000L, "src2" -> 500000L,
        "src3" -> 3000000L), carryCols = Seq("__n"))
    val stream = mixed.select(
      (col("id") * 4 + col("epoch_copy") - 1).as("__ord"),
      col("id"), col("epoch_copy"), col("__n"))
    Packing.packCounted(stream, "__ord", "__n", maxTokens = 512L)
      .withColumn("shard", Layout.rendezvousShard(col("pack_id"), 8))
  }

  /** q186's oracle: the ONE SQL statement that replays the whole
    * trainer-feed chain — q164's curation CTEs (shared text, zero
    * drift), the portable Carter-Wegman minhash decision (q35's
    * family over the CURATED text), the q173 mix draws, the q172
    * sequential prefix-sum pack, and the q177 HRW shard — down to a
    * per-pack md5 of the ordered segment descriptors.
    */
  private def trainerFeedOracle: String = {
    val mins = TextQueries.minhashSlotMins
    val bandSelects = TextQueries.minhashBandSelects("sig2")
    s"""WITH ${WebTextQueries.curationCtes},
        cur AS (
          SELECT doc_id,
                 coalesce(string_agg(CASE WHEN rn = 1 THEN sentence END,
                   ' ' ORDER BY sent_idx), '') AS clean
          FROM rr GROUP BY doc_id),
        g2 AS (
          SELECT doc_id, substr(clean, CAST(i.i AS INTEGER), 3) AS sh
          FROM cur, LATERAL (
            SELECT unnest(generate_series(1, length(clean) - 2)) AS i) i
          WHERE length(clean) >= 3),
        h AS (
          SELECT doc_id,
                 CAST(('0x' || substr(md5(sh), 1, 12)) AS UBIGINT) AS h1,
                 CAST(('0x' || substr(md5(sh), 13, 12)) AS UBIGINT) | 1 AS h2
          FROM g2),
        sig2 AS (
          SELECT doc_id,
               $mins
          FROM h GROUP BY doc_id),
        bands AS (
             $bandSelects),
        bandmin AS (SELECT key, min(doc_id) AS bmin FROM bands GROUP BY 1),
        cand0 AS (
          SELECT b.doc_id, m.bmin
          FROM bands b JOIN bandmin m USING (key)
          WHERE m.bmin < b.doc_id),
        cands AS (
          SELECT doc_id, list_sort(list_distinct(list(bmin)))[1:3] AS cl
          FROM cand0 GROUP BY 1),
        shs AS (SELECT doc_id, list_distinct(list(sh)) AS s FROM g2 GROUP BY 1),
        pairs AS (SELECT doc_id, unnest(cl) AS rep FROM cands),
        verified AS (
          SELECT p.doc_id,
                 CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                   / len(list_distinct(list_concat(a.s, b.s))) AS j
          FROM pairs p
          JOIN shs a ON a.doc_id = p.doc_id
          JOIN shs b ON b.doc_id = p.rep),
        dup AS (SELECT doc_id FROM verified GROUP BY doc_id
                HAVING max(j) >= 0.5),
        keep AS (
          SELECT c.doc_id, dsrc.source, c.clean
          FROM cur c
          JOIN documents dsrc USING (doc_id)
          LEFT JOIN dup ON dup.doc_id = c.doc_id
          WHERE dup.doc_id IS NULL AND trim(c.clean) <> ''),
        mx AS (
          SELECT doc_id, source, clean,
                 CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)),
                   1, 12)) AS UBIGINT) AS draw
          FROM keep),
        cp AS (
          SELECT doc_id, clean,
                 CASE source WHEN 'src1' THEN 2 WHEN 'src2' THEN 0
                             WHEN 'src3' THEN 3 ELSE 1 END
                 + CASE WHEN draw < (CASE source
                         WHEN 'src1' THEN 70368744177664
                         WHEN 'src2' THEN 140737488355328
                         ELSE 0 END) THEN 1 ELSE 0 END AS copies
          FROM mx),
        ex AS (
          SELECT doc_id, clean, ecs.ec
          FROM cp, LATERAL (
            SELECT unnest(generate_series(1, copies)) AS ec) ecs
          WHERE copies > 0),
        tc AS (
          SELECT doc_id, ec, doc_id * 4 + ec - 1 AS ord,
                 CAST(len(regexp_split_to_array(trim(clean), '\\s+'))
                   AS BIGINT) AS n
          FROM ex),
        cc AS (
          SELECT doc_id, ec, ord, n,
                 CAST(sum(n) OVER (ORDER BY ord) AS BIGINT) AS ca
          FROM tc),
        b2 AS (SELECT doc_id, ec, ord, n, ca, ca - n AS cb FROM cc),
        e3 AS (
          SELECT doc_id, ec, ord, n, cb,
                 unnest(generate_series(cb // 512, (ca - 1) // 512))
                   AS pack_id
          FROM b2),
        seg AS (
          SELECT CAST(pack_id AS BIGINT) AS pack_id, doc_id, ec, ord,
                 CAST(greatest(pack_id * 512 - cb, 0) AS BIGINT) AS ts,
                 CAST(least((pack_id + 1) * 512 - cb, n)
                      - greatest(pack_id * 512 - cb, 0) AS BIGINT) AS len
          FROM e3),
        hp AS (SELECT DISTINCT pack_id FROM seg),
        hw AS (
          SELECT pack_id, sidx.s AS s,
                 CAST(('0x' || substr(md5('hrw:' || CAST(pack_id AS VARCHAR)
                   || ':' || CAST(sidx.s AS VARCHAR)), 1, 12)) AS UBIGINT)
                   AS w
          FROM hp, LATERAL (SELECT unnest(generate_series(0, 7)) AS s) sidx),
        sdx AS (
          SELECT pack_id, CAST(max(w * 64 + s) % 64 AS INTEGER) AS shard
          FROM hw GROUP BY 1)
        SELECT sg.pack_id, sdx.shard,
               count(*) AS n_segs,
               CAST(sum(sg.len) AS BIGINT) AS n_pack_tokens,
               md5(string_agg(CAST(sg.doc_id AS VARCHAR) || ':' ||
                     CAST(sg.ec AS VARCHAR) || ':' ||
                     CAST(sg.ts AS VARCHAR) || ':' ||
                     CAST(sg.len AS VARCHAR), ',' ORDER BY sg.ord))
                 AS pack_md5
        FROM seg sg JOIN sdx USING (pack_id)
        GROUP BY 1, 2"""
  }
}
