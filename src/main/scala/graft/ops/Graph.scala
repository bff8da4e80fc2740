package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph centrality over edge DataFrames.
  *
  * Web-scale corpus curation ranks hosts/pages by link centrality
  * (Common Crawl publishes harmonic/PageRank host ranks; curation
  * pipelines join them as a quality prior). The engine form: edges are a
  * DataFrame, each power iteration is one join + one aggregation, and
  * rank mass is EXACT INTEGER arithmetic (parts-per-SCALE) so the
  * result is independent of partitioning and float summation order —
  * the same engine-reproducibility trick as the ppm metrics in
  * QualityRules / NgramLm.
  */
object Graph {

  /** Storage policy for the big, loop-invariant tables (edge lists,
    * node universes) the iteration loops reuse every round.
    *
    * Pinned (`localCheckpoint`): deserialized row blocks, fastest
    * per-round reuse, but PINNED — a local checkpoint has no lineage
    * to recompute from, so its blocks can never be evicted, and at
    * corpus scale they compete with execution memory until the query
    * dies. Compact (`MEMORY_AND_DISK` cache): an evictable columnar
    * cache — several times smaller, and under memory pressure Spark
    * drops partitions and re-derives them from the scan instead of
    * dying.
    *
    * Measured tradeoff (PLANS.md round-10): at ×1 the checkpoint is
    * ~1.5–2× faster per query (abundant memory, decompression is pure
    * overhead); at ×100 on an 8 GiB harness the pinned 120M-edge
    * checkpoint kills PageRank with UNABLE_TO_ACQUIRE_MEMORY while the
    * compact mode completes in 37 s — 3× faster than even a 48 GiB
    * heap running the pinned default.
    *
    * THE POLICY IS SELF-SELECTING (round-10 verdict: a manual knob is
    * a 100-TB footgun), decided ONCE per operator call from the raw
    * input frame's LEAF bytes (sum of source file sizes off the
    * optimized plan — free, no action) and inherited by every invariant
    * the operator stabilizes (nodes ⊆ edges, so one decision covers
    * both; deciding per-table would mis-read a derived frame whose leaf
    * is our own checkpoint). Three bands:
    *   - leaves tiny (×[[LeafExpansion]] under [[PinFraction]] of the
    *     storage pool): PIN directly — the exact lazy-checkpoint plan
    *     the pinned default always ran, ZERO added work at bench scale;
    *   - leaves huge (×LeafExpansion over the whole pool): COMPACT
    *     directly — evictable columnar cache, the mode that survives
    *     the measured ×100 memory cliff;
    *   - the band between: COUNT the raw input once for an exact row
    *     bound and pin iff rows × unsafe-row width × a 3× stabilized-
    *     frame allowance fits PinFraction of the pool. The count is a
    *     paid extra scan, but only in the ambiguous band (mid-sized
    *     inputs, where a scan is seconds) — the measured
    *     count-ALWAYS design cost +0.2–0.7 s on every ×1 bench row
    *     and was rejected (PLANS.md round-11 storage-policy section).
    * A small-leaf query that EXPLODES into a huge derived table pins —
    * exactly what the round-10 pinned default always did — and the band
    * thresholds catch the ordinary growth long before the cliff.
    * `graft.graph.compactStorage = true|false` remains the explicit
    * override for both directions.
    *
    * `rel` collects a release handle per table so loops with a terminal
    * driver action can drop their invariants once the final snapshot is
    * materialized (round-10 advice: repeated graph calls otherwise
    * accumulate spilled cache blocks for the session's life).
    */
  private def stableBig(df: DataFrame, compact: Boolean,
      rel: scala.collection.mutable.ListBuffer[() => Unit]): DataFrame =
    if (compact) compactCache(df, rel) else pinnedCk(df, rel)

  /** The per-operator policy decision (see [[stableBig]]): returns true
    * for compact-evictable storage, false for pinned checkpoints.
    * `rawInput` must be a frame over the operator's ORIGINAL sources
    * (its leaves are real file relations, not this operator's own
    * stabilized intermediates).
    */
  private def decideCompact(rawInput: DataFrame): Boolean =
    rawInput.sparkSession.conf.getOption("graft.graph.compactStorage")
        .map(_.trim.toLowerCase) match {
      case Some("true")  => lastDecision = "compact conf"; true
      case Some("false") => lastDecision = "pinned conf"; false
      case Some(other) if other.nonEmpty && other != "auto" =>
        // an explicit-but-unrecognized override must not silently fall
        // through to auto (which may choose the opposite of what the
        // user meant AND pay a surprise input count)
        throw new IllegalArgumentException(
          s"graft.graph.compactStorage must be true|false|auto, got '$other'")
      case _ =>
        val pool = storageBudget(rawInput)
        val leaves = rawInput.queryExecution.optimizedPlan.collectLeaves()
          .map(_.stats.sizeInBytes).sum
        if (leaves * LeafExpansion <= BigInt((pool * PinFraction).toLong)) {
          lastDecision = s"pinned leaves=$leaves"; false
        } else if (leaves * LeafExpansion > BigInt(pool)) {
          lastDecision = s"compact leaves=$leaves"; true
        } else {
          // ambiguous band: pay one cheap count of the raw input for an
          // exact row bound (the stabilized frame has ≤ a few rows per
          // input row in every operator here)
          val rows = rawInput.count()
          val compact =
            estRowBytes(rawInput.schema) * 3 * rows > (pool * PinFraction).toLong
          lastDecision = s"${if (compact) "compact" else "pinned"} rows=$rows"
          compact
        }
    }

  private def compactCache(df: DataFrame,
      rel: scala.collection.mutable.ListBuffer[() => Unit]): DataFrame = {
    val c = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rel += (() => { c.unpersist(false); () })
    c
  }

  private def pinnedCk(df: DataFrame,
      rel: scala.collection.mutable.ListBuffer[() => Unit]): DataFrame = {
    val ck = df.localCheckpoint(false)
    rel += graft.core.Checkpoints.releaseHandle(ck)
    ck
  }

  /** Deserialized UnsafeRow width estimate: 16B header + 8B/field slot,
    * variable-length fields billed a nominal payload. Graph tables are
    * all fixed-width longs, where this is near-exact. */
  private[ops] def estRowBytes(schema: org.apache.spark.sql.types.StructType): Long =
    16L + schema.fields.map(_.dataType match {
      case t if t.isInstanceOf[org.apache.spark.sql.types.StringType] ||
                t.isInstanceOf[org.apache.spark.sql.types.BinaryType] => 8L + 48L
      case _: org.apache.spark.sql.types.ArrayType => 8L + 256L
      case _ => 8L
    }).sum

  private def storageBudget(df: DataFrame): Long =
    budgetOverride.getOrElse(
      df.sparkSession.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum)

  /** Test hook: force a tiny budget to exercise the compact decision
    * without allocating gigabytes in a unit test. */
  private[ops] var budgetOverride: Option[Long] = None

  /** Fraction of the storage pool the pinned loop-invariants may claim:
    * leaves room for the rolling rank/label checkpoints and execution
    * memory in the unified pool. */
  private val PinFraction = 0.3

  /** Compressed-leaf-bytes → deserialized-invariant multiplier: parquet
    * columns decompress ~3–5× into unsafe rows and the operators here
    * at most double their input (direction symmetrization). Pin-direct
    * therefore needs leaves ≤ pool/20 (≈230 MB on the 8 GiB harness:
    * the ×10 trade graph pins, ×20 goes through the counted band, ×100
    * is compact outright — measured decision points in PLANS.md). */
  private val LeafExpansion = 6

  /** Last auto-policy decision, for probes/specs. */
  @volatile private[graft] var lastDecision: String = ""

  /** Fixed-point PageRank. `edges` must have (srcCol, dstCol) columns;
    * parallel edges are collapsed before iterating. Returns one row per
    * node: (node, rank_scaled) where rank_scaled is the integer rank in
    * units of 1/SCALE, starting from SCALE per node.
    *
    * Per iteration (all BIGINT, overflow-safe while
    * nodes × SCALE × damping numerator < 2^63):
    *   contrib(v)  = rank(v) div outdeg(v)         — truncating division
    *   rank'(u)    = (15 * SCALE + 85 * Σ contrib(v→u)) div 100
    * Dangling-node mass (no out-edges) is dropped, the standard
    * simplification; total mass therefore decays slightly per round,
    * which is fine for ranking.
    *
    * Scale shape: the edge list is the big table — it shuffles ONCE to
    * co-partition on src (`repartition(src)` + localCheckpoint), and
    * every iteration's rank⋈edges join reuses that layout while the
    * rank side (one narrow row per node) shuffles to meet it. The
    * per-iteration aggregation is a partial-agg groupBy on dst. Ranks
    * are checkpointed every `checkpointEvery` rounds so the plan stays
    * O(cadence) deep regardless of iteration count (same lineage
    * discipline as Dedup) while short runs fuse into one
    * job with no per-round materialization.
    *
    * THE ×100 STORY is `tolScaled` (round-9): per-iteration cost is one
    * edge-sized shuffle, so at corpus scale the iteration COUNT is the
    * whole bill, and fixed-count runs either overpay or under-converge.
    * With `tolScaled > 0` the loop exits early once no node's rank
    * moved more than `tolScaled` (in 1/`scale` units) across a
    * `checkpointEvery`-round window. The check rides the EXISTING
    * checkpoint cadence — it joins two already-materialized rank
    * snapshots (narrow node rows, one 1-row driver action, the same
    * bounded-action pattern as [[connectedComponents]]'s changed-count)
    * — so it adds no extra materialization and runs every
    * `checkpointEvery` rounds, not every round. Measured on the sf0.1
    * trade graph (PLANS.md round-9 tolerance table): window deltas
    * contract at exactly the damping rate, 0.85⁴ ≈ 0.52× per 4-round
    * window, so the tolerance maps to a round count logarithmically —
    * rounds ≈ log(Δ₀/tol) / log(1/0.85), e.g. ~36 rounds to 1%
    * relative (tolScaled = 1e10 at the default scale) and ~88 rounds
    * to 1e-6 relative. That log is the ×100 claim: tightening data
    * scale 100× leaves the round count unchanged, and the cost of a
    * tolerance is read off the table instead of guessed. `iterations`
    * remains the hard upper bound; `tolScaled = 0` (default)
    * reproduces the exact fixed-count result — the oracle-matching
    * configuration.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int, scale: Long = 1000000000000L,
               assumeDistinct: Boolean = false,
               allNodesReceive: Boolean = false,
               checkpointEvery: Int = 4,
               tolScaled: Long = 0L): DataFrame = {
    require(checkpointEvery > 0, s"checkpointEvery must be positive: $checkpointEvery")
    require(tolScaled >= 0, s"tolScaled must be >= 0: $tolScaled")
    // `assumeDistinct` skips the edge-collapse shuffle when the caller
    // already guarantees uniqueness (e.g. a pre-distincted pair list
    // unioned into disjoint direction keyspaces) — at corpus scale the
    // edge list is the one table you never want to shuffle twice
    val named = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .where(col("__src").isNotNull && col("__dst").isNotNull)
    val e0 = if (assumeDistinct) named else named.distinct()
    // big side, built ONCE: edges co-partitioned on src with their
    // source's outdegree attached by a WINDOW over that same layout —
    // one exchange total, where groupBy-outdeg + join would pay a
    // second shuffle of the full edge list. Every round's rank join
    // then meets this fixed layout (only narrow rank rows move).
    // storage: see [[stableBig]] — lineage depth is fixed (scan →
    // repartition → window), so checkpoint-style truncation buys
    // nothing; the policy choice is purely pinned-fast vs
    // compact-evictable, and `graft.graph.compactStorage` decides
    val relInv = scala.collection.mutable.ListBuffer[() => Unit]()
    // policy decided from the PRE-shuffle named frame: real file leaves,
    // and its (ambiguous-band) count is a pure scan, no distinct paid
    val compactMode = decideCompact(named)
    val e = stableBig(e0.repartition(col("__src"))
      .withColumn("__outdeg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("__src")))),
      compactMode, relInv)
    // node universe: needed per round for dangling-rank carry unless
    // every node receives mass (symmetrized graph), where it would feed
    // only the constant rank init — which round 1 folds away below
    lazy val nodes = stableBig(e.select(col("__src").as("node"))
      .union(e.select(col("__dst").as("node")))
      .distinct(), compactMode, relInv)
    if (iterations <= 0)
      return nodes.select(col("node"), lit(scale).as("rank_scaled"))
    // null ⇒ the implicit constant-`scale` init: round 1 reads contribs
    // straight off `e` (scale div outdeg), skipping the node-universe
    // distinct and the init join entirely
    var ranks: DataFrame = null
    var lastCk: DataFrame = null // previous checkpointed snapshot (tol mode)
    var lastRel: () => Unit = graft.core.Checkpoints.noRelease
    var converged = false
    var it = 0
    while (it < iterations && !converged) {
      val contribs =
        (if (ranks == null)
          e.select(col("__dst"), expr(s"${scale}L div __outdeg").as("__contrib"))
        else ranks
          .join(e, ranks("node") === e("__src"))
          .select(col("__dst"), expr("rank_scaled div __outdeg").as("__contrib")))
        .groupBy(col("__dst"))
        .agg(sum(col("__contrib")).as("__in"))
      // `div`, not `/`: Column./ on BIGINT is double division. All
      // operands are non-negative, so truncating div == DuckDB's
      // flooring `//` (the q81 parity invariant).
      // `allNodesReceive` (every node has an in-edge — true for any
      // symmetrized graph) drops the per-round nodes join: contribs
      // already covers the node universe, so one join+exchange per
      // round disappears.
      val next =
        if (allNodesReceive)
          contribs.select(col("__dst").as("node"),
            expr(s"(15 * ${scale}L + 85 * __in) div 100").as("rank_scaled"))
        else nodes
          .join(contribs, nodes("node") === contribs("__dst"), "left")
          .select(nodes("node"),
            expr(s"(15 * ${scale}L + 85 * coalesce(__in, 0L)) div 100")
              .as("rank_scaled"))
      it += 1
      // truncate lineage every `checkpointEvery` rounds: bounded plan
      // depth for long runs WITHOUT paying a block-manager
      // materialization per round — a short run (iterations ≤ cadence)
      // fuses into one job, each intermediate rank table living only as
      // shuffle output between its two stages
      if (it % checkpointEvery == 0 && it < iterations) {
        val (ck, rel) = graft.core.Checkpoints.localCk(next)
        if (tolScaled > 0 && lastCk != null) {
          // both sides are materialized checkpoints: the delta join
          // re-executes no lineage, and the max is a 1-row action
          val row = ck.join(
            lastCk.select(col("node"), col("rank_scaled").as("__prev")),
            Seq("node"))
            .agg(max(abs(col("rank_scaled") - col("__prev"))).as("__d"))
            .head()
          converged = !row.isNullAt(0) && row.getLong(0) <= tolScaled
          // the delta action materialized `ck`; the snapshot `lastCk`
          // replaces is unreachable now — release it (tol-mode long
          // runs otherwise pin every cadence's ranks). In non-tol mode
          // the chain is lazy until the caller's terminal action, so
          // nothing may be released (no action has pinned a successor).
          lastRel()
        }
        lastRel = rel
        lastCk = ck
        ranks = ck
      } else ranks = next
    }
    // tol-mode convergence means the result is a MATERIALIZED checkpoint
    // (the delta action ran) — the loop invariants are unreachable from
    // it and can be dropped now. A fixed-count run's chain stays lazy
    // until the caller's terminal action, so its invariants must stay.
    if (converged) relInv.foreach(_.apply())
    ranks
  }

  /** Connected components over an undirected edge list: every node is
    * labeled with the MINIMUM node id reachable from it — the
    * general-graph form of the dedup cluster collapse
    * ([[Dedup]]'s propagation is the special case where edges form a
    * rep-pointer function). The driver of large-scale entity
    * resolution, cluster-aware train/test splitting, and host-graph
    * grouping.
    *
    * Each round combines BOTH standard accelerators:
    *   1. neighbor-min: comp(u) := min(comp(u), min over (u,v)∈E comp(v))
    *   2. pointer doubling: comp(u) := comp(comp(u))  (labels are node
    *      ids, so the component table is also a pointer table)
    * Min-propagation alone needs O(diameter) rounds; with doubling the
    * count drops to O(log n). Convergence is detected exactly (a 1-row
    * count of changed labels per round — the same bounded driver action
    * as PageRank's iteration and BPE's merge pick); `maxRounds` bounds
    * the worst case.
    *
    * Scale shape: the undirected edge list shuffles ONCE to
    * co-partition on __a (checkpointed); each round joins the narrow
    * (node, comp) table against that fixed layout, aggregates
    * neighbor-mins behind a partial-agg pair, and checkpoints the new
    * labels (O(1) plan depth). Shuffles carry (node, comp) longs only.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxRounds: Int = 20): DataFrame = {
    val dir = edges.select(col(srcCol).as("__a"), col(dstCol).as("__b"))
      .where(col("__a").isNotNull && col("__b").isNotNull && col("__a") =!= col("__b"))
    val relInv = scala.collection.mutable.ListBuffer[() => Unit]()
    val compactMode = decideCompact(dir)
    val e = stableBig(dir
      .unionAll(dir.select(col("__b").as("__a"), col("__a").as("__b")))
      .distinct()
      .repartition(col("__a")), compactMode, relInv)
    val nodes = stableBig(e.select(col("__a").as("node")).distinct(),
      compactMode, relInv)
    // a pure projection of the checkpointed node table — both per-round
    // references hit those blocks, so its own checkpoint would be waste
    var reps = nodes.select(col("node"), col("node").as("comp"))
    var relPrev: () => Unit = graft.core.Checkpoints.noRelease
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      val nmin = reps.join(e, reps("node") === e("__a"))
        .groupBy(col("__b")).agg(min(col("comp")).as("__nc"))
      val stepped = reps
        .join(nmin, reps("node") === nmin("__b"), "left")
        .select(col("node"), col("comp").as("__old"),
          least(col("comp"), coalesce(col("__nc"), col("comp"))).as("comp"))
      // pointer doubling: follow the label one hop (comp ids are nodes).
      // The previous label rides along as __old so convergence is a
      // filter-count on this round's ALREADY-materialized checkpoint —
      // no per-round join back to `reps`.
      val (doubled, rel) = graft.core.Checkpoints.localCk(stepped.alias("s")
        .join(stepped.select(col("node").as("__cn"), col("comp").as("__cc"))
          .alias("c"), col("s.comp") === col("__cn"), "left")
        .select(col("s.node").as("node"), col("s.__old").as("__old"),
          least(col("s.comp"), coalesce(col("__cc"), col("s.comp"))).as("comp")))
      val changed = doubled.where(col("comp") =!= col("__old")).count()
      // the count materialized this round's snapshot — the previous
      // round's blocks are now unreachable; release instead of pinning
      // O(rounds) snapshots for the life of the query
      relPrev(); relPrev = rel
      reps = doubled.select(col("node"), col("comp"))
      converged = changed == 0L
      round += 1
    }
    // every round ends in a count action, so after ≥1 round `reps` is a
    // projection of a MATERIALIZED checkpoint — the loop invariants are
    // unreachable from the result; release them instead of letting
    // repeated graph calls accumulate cache/checkpoint blocks (r10 advice)
    if (round > 0) relInv.foreach(_.apply())
    reps
  }

  /** Exact triangle count by degree-ordered orientation — the
    * compact-forward algorithm (Latapy 2008; MapReduce form in Suri &
    * Vassilvitskii, WWW'11): orient each undirected edge from the
    * endpoint with the smaller (degree, id) toward the larger, build
    * wedges from each vertex's oriented out-neighbors, and close them
    * against the undirected edge set. Every triangle is counted exactly
    * once, at its minimum-(degree, id) vertex.
    *
    * Why orientation matters at 100 TB: the wedge self-join fans out
    * quadratically in OUT-degree, and degree-ordering bounds every
    * oriented out-degree by O(√m) — on a power-law graph, id-ordering
    * would hand a hub its full degree and one task the whole skew.
    * All joins are equi-joins (the closing edge is looked up in
    * canonical (min, max) form — no OR-condition nested loop).
    *
    * Input edges may list either or both directions; self-loops and
    * parallel edges are dropped. Returns one row:
    * (n_nodes, n_edges, n_triangles).
    */
  def triangles(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e0 = edges.select(col(srcCol).cast("long").as("__a"),
        col(dstCol).cast("long").as("__b"))
      .where(col("__a").isNotNull && col("__b").isNotNull &&
        col("__a") =!= col("__b"))
    // canonical undirected form; reused by orientation AND wedge closing.
    // No terminal driver action inside this operator (the result is one
    // lazy aggregate row), so the release handles cannot fire — the
    // policy still matters: at scale the auto decision keeps these
    // reused tables EVICTABLE instead of pinned.
    val relDiscard = scala.collection.mutable.ListBuffer[() => Unit]()
    val compactMode = decideCompact(e0)
    val und = stableBig(e0.select(least(col("__a"), col("__b")).as("u"),
        greatest(col("__a"), col("__b")).as("v"))
      .distinct(), compactMode, relDiscard)
    val deg = und.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val oriented0 = und
      .join(deg.select(col("n").as("u"), col("deg").as("__du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("deg").as("__dv")), Seq("v"))
      // u < v canonically, so a degree tie keeps u -> v: (deg, id) order
      .select(when(col("__du") <= col("__dv"), col("u")).otherwise(col("v")).as("s"),
        when(col("__du") <= col("__dv"), col("v")).otherwise(col("u")).as("t"))
    val orientedStable = stableBig(oriented0, compactMode, relDiscard)
    // wedges: unordered pairs of out-neighbors of s (b < c by id, which
    // matches the canonical closing-edge form directly)
    val wedges = orientedStable.select(col("s"), col("t").as("__b")).alias("x")
      .join(orientedStable.select(col("s"), col("t").as("__c")).alias("y"),
        Seq("s"))
      .where(col("__b") < col("__c"))
    val tri = wedges.join(und,
        col("__b") === col("u") && col("__c") === col("v"))
      .agg(count(lit(1)).as("n_triangles"))
    val nn = deg.agg(count(lit(1)).as("n_nodes"))
    val ne = und.agg(count(lit(1)).as("n_edges"))
    nn.crossJoin(ne).crossJoin(tri)
  }
}
