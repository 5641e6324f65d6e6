package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge DataFrames. The engine already
  * owns one iterative-graph operator family (connected components /
  * survivor selection in [[Dedup]], pointer-doubling); this adds the
  * power-iteration family — PageRank — in an INTEGER-EXACT fixed-point
  * formulation so the whole iteration replays in any ANSI engine
  * (q117's hash gate): floating PageRank is order-sensitive (a sum of
  * doubles over in-neighbors), while fixed-point contributions are
  * integers whose sum is associative and commutative in exact
  * arithmetic, so ANY partitioning, any engine, any reduce order
  * produces bit-identical ranks.
  *
  * Semantics (the documented spec, chosen for exact replay):
  *   pr_0(v)   = scale                     (integer mass per node)
  *   c_i(u→v)  = (pr_i(u) * 17) div (20 * deg(u))   — 0.85 damping as
  *               the exact rational 17/20, single floor division
  *   pr_{i+1}(v) = (scale * 3) div 20 + sum over in-edges of c_i(u→v)
  * Truncation loss from the floor divisions is part of the spec (both
  * engines floor identically on non-negative operands); with
  * scale = 10^12 the relative truncation is ~10^-12 per step. Fixed
  * iteration count, no convergence test — at 100 TB each iteration is
  * exactly one shuffle, so the caller chooses cost directly.
  *
  * 100 TB shape: `edges` joined with degrees is computed once, hashed by
  * src, and persisted — every iteration reuses that layout; only the
  * rank table (one long per node — orders of magnitude smaller than the
  * edge set) moves per iteration. On a real cluster the rank side is
  * co-partitioned with the edge table's src hash; at the bench scale
  * Spark broadcasts it (ranks ≪ edges), which is the same
  * "edges never move" contract.
  */
object Graphs {
  import Checkpoints.freeCheckpoint

  /** Fixed-point integer PageRank. `edges` must carry long columns
    * (`src`, `dst`), pre-deduplicated; for undirected graphs pass both
    * directions. Every node must have out-degree ≥ 1 (true by
    * construction for symmetrized edges); isolated nodes are out of the
    * graph by definition. Nodes with in-degree 0 (legal on directed
    * inputs) hold exactly the base term every iteration — the
    * contribution aggregate is left-joined back onto the full node set,
    * so such nodes never drop out of the rank table (and keep feeding
    * their out-edges in later iterations). Returns (`nid`, `pr`). */
  def integerPageRank(edges: DataFrame, iters: Int,
                      scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1 && iters <= 20, s"iters out of range: $iters")
    // one hash layout for the whole run: (src, dst, deg), reused by
    // every iteration's join. localCheckpoint, not persist
    // (optimization r13, guide §7.3): persist caches blocks but keeps
    // the FULL edge-build lineage in the plan, so every iteration
    // re-embedded the upstream join/distinct subtree and Catalyst
    // re-optimized a plan that grew by one edge-build per iteration;
    // the checkpoint pins the same (src)-hashed layout as a flat
    // LogicalRDD (partitioning preserved), leaving the per-iteration
    // plan constant-sized. Blocks free with the harness's per-query
    // RDD cleanup, as before.
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val ed = edges.join(deg, "src")
      .repartition(col("src"))
      .localCheckpoint()
    // the node set IS ed's distinct src — derive it from the checkpoint
    // instead of re-running the caller's edge-build subtree a second
    // time for the nodes materialization
    val nodes = ed.select(col("src").as("nid")).distinct()
      .localCheckpoint()
    val base = (scale * 3L) / 20L
    var pr = nodes.select(col("nid"), lit(scale).as("pr"))
    for (_ <- 1 to iters) {
      // explicit aliases: ed and pr share lineage (deg derives from
      // edges), so unqualified column refs would be ambiguous self-join
      // references by iteration 2
      val contrib = ed.alias("e")
        .join(pr.alias("p"), col("e.src") === col("p.nid"))
        .select(col("e.dst").as("nid"),
          expr("(p.pr * 17) div (20 * e.deg)").as("c"))
        .groupBy("nid")
        .agg(sum(col("c")).as("inflow"))
      // left join onto the full node set: in-degree-0 nodes keep the
      // base term instead of silently exiting the rank table
      pr = nodes.join(contrib, Seq("nid"), "left")
        .select(col("nid"),
          (lit(base) + coalesce(col("inflow"), lit(0L))).as("pr"))
    }
    pr
  }

  /** Seeded PageRank — TrustRank (Gyöngyi et al. 2004), the
    * quality-propagation member of the power-iteration family: teleport
    * mass flows only to a TRUSTED SEED SET, so a node's score measures
    * its link-proximity to trusted nodes (the classic web-spam /
    * data-source-quality signal; in a curation pipeline the seeds are
    * vetted sources and the scores rank everything they co-occur with).
    * Same integer-exact fixed-point formulation as [[integerPageRank]]
    * — only the base term changes:
    *   tr_0(v)     = seed(v) ? scale : 0
    *   tr_{i+1}(v) = (seed(v) ? (scale·3) div 20 : 0)
    *                 + Σ in-edges (tr_i(u) · 17) div (20 · deg(u))
    * `seeds` carries one `nid` column; non-seed nodes can hold rank
    * only through inlinks from the trust neighborhood. Same 100 TB
    * shape as PageRank: edges hashed + persisted once, only the rank
    * table moves per iteration, the seed flag rides the degree table. */
  def integerTrustRank(edges: DataFrame, seeds: DataFrame, iters: Int,
                       scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1 && iters <= 20, s"iters out of range: $iters")
    // localCheckpoint instead of persist — the integerPageRank
    // flat-plan rationale (optimization r13)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .join(seeds.select(col("nid").as("src"), lit(1L).as("is_seed")),
        Seq("src"), "left")
      .na.fill(0L, Seq("is_seed"))
    // is_seed rides the edge layout so the node set derives from the
    // checkpoint (one edge-build execution, not two — the
    // integerPageRank rule)
    val ed = edges.join(deg, "src")
      .repartition(col("src"))
      .localCheckpoint()
    val nodes = ed.select(col("src").as("nid"), col("is_seed")).distinct()
      .localCheckpoint()
    val base = (scale * 3L) / 20L
    var tr = nodes.select(col("nid"), (col("is_seed") * scale).as("tr"))
    for (_ <- 1 to iters) {
      val contrib = ed.alias("e").join(tr.alias("p"),
          col("e.src") === col("p.nid"))
        .select(col("e.dst").as("nid"),
          expr("(p.tr * 17) div (20 * e.deg)").as("c"))
        .groupBy("nid")
        .agg(sum(col("c")).as("inflow"))
      tr = nodes.join(contrib, Seq("nid"), "left")
        .select(col("nid"),
          (col("is_seed") * base + coalesce(col("inflow"), lit(0L))).as("tr"))
    }
    tr
  }

  /** Synchronous label-propagation community detection (Raghavan,
    * Albert & Kumara 2007) with a DETERMINISTIC tie-break — the
    * frequency-argmax member of the iterative-graph family, and a true
    * community detector distinct from connected components (components
    * answer "is there any path"; LPA's majority vote finds densely-
    * linked groups inside one component). The classic algorithm breaks
    * count ties uniformly at random; here the winner is the
    * lexicographic minimum of (−count, label) — deterministic,
    * partition-independent, and replayable in an ANSI engine (q132's
    * hash gate), the same derandomization the k-means seeds and
    * admission orders use.
    *
    * Semantics: l_0(v) = v; l_{i+1}(v) = argmax over in-neighbors' u of
    * count(l_i(u)), ties to the smallest label; a node with NO
    * in-neighbors keeps its previous label (the vote winner is
    * left-joined back onto the full src∪dst node set each iteration, so
    * directed inputs with pure-source or pure-sink nodes are
    * well-defined — no node ever exits the label table); fixed
    * iteration count (synchronous updates — on bipartite graphs the
    * fixed count is also what keeps the known 2-cycle oscillation
    * bounded and replayable).
    *
    * 100 TB shape: the edge table is hashed by src and persisted once;
    * each iteration is one edges⋈labels join (labels co-partitioned or
    * broadcast — one long per node) plus two label-keyed aggregates
    * whose exchanges carry (nid, lbl, cnt) triples only. The
    * keep-previous rule for nodes with no in-neighbors rides the SAME
    * argmax aggregate as the votes: each node contributes a zero-count
    * sentinel row (nid, prev, 0) that any real vote (cnt ≥ 1 ⇒ −cnt < 0)
    * beats — no per-iteration join back onto the node set. Label volume
    * per iteration is at most the in-degree sum pre-combine and the node
    * count post-combine — never edge-quadratic.
    *
    * Rounds run under [[Checkpoints.rounds]]. Because the sentinel rule
    * references the label table twice per round, a lazy chain would
    * double its LOGICAL plan every iteration (exponential plan growth
    * kills the driver long before executor cost matters at corpus
    * scale); checkpointed rounds keep plan and work linear in `iters`.
    * The hashed edge table is released before returning — the returned
    * frame reads only the final round's checkpoint blocks, which free
    * when it is garbage collected. */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 10, s"iters out of range: $iters")
    import org.apache.spark.storage.StorageLevel
    val ed = edges.repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val init = ed.select(col("src").as("nid"))
      .unionByName(ed.select(col("dst").as("nid")))
      .distinct()
      .select(col("nid"), col("nid").as("lbl"))
      .localCheckpoint()
    val (lbl, _) = Checkpoints.rounds(init, iters, ownsInit = true) {
        (lbl, _) =>
      val counts = ed.alias("e")
        .join(lbl.alias("p"), col("e.src") === col("p.nid"))
        .groupBy(col("e.dst").as("nid"), col("p.lbl").as("lbl"))
        .agg(count(lit(1)).as("cnt"))
      // zero-count self-vote sentinels: a node with no in-neighbors has
      // only its sentinel and keeps its previous label; any real vote
      // outranks the sentinel in the same (−cnt, lbl) argmax
      counts
        .unionByName(lbl.select(col("nid"), col("lbl"), lit(0L).as("cnt")))
        .groupBy(col("nid"))
        .agg(min(struct((-col("cnt")).as("nc"), col("lbl").as("l"))).as("w"))
        .select(col("nid"), col("w.l").as("lbl"))
    }
    ed.unpersist(blocking = false) // rounds are materialized; nothing lazy reads ed
    lbl
  }

  /** Exact per-node triangle counting by degree orientation — the
    * standard bounded-wedge scheme (each undirected edge is directed
    * from its (degree, id)-smaller endpoint to the larger, so every
    * out-neighborhood has O(sqrt(m)) fan-out on any graph and each
    * triangle is generated exactly once, at its (degree, id)-minimum
    * corner). `edges` carries one row per unordered pair as
    * (`u`, `v`) with u < v, pre-deduplicated. Returns
    * (n, degree, triangles); triangles/degree give the local
    * clustering coefficient as an exact rational — no float ever
    * enters the computation, so the whole run replays in any ANSI
    * engine (q123's hash gate).
    *
    * 100 TB shape: three shuffles total — degrees (hash agg), the
    * wedge self-join on the oriented source, and the closing join on
    * the wedge's (b, c) pair. Degree orientation is what makes the
    * wedge join survive scale: without it a single hub of degree 10^6
    * yields 10^12 wedges; with it every node's out-degree is bounded
    * by ~sqrt(2m) regardless of skew. The oriented edge table is
    * persisted once and feeds both sides of the wedge join and the
    * closing probe. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val eu = edges.select(col("u"), col("v"))
      .unionByName(edges.select(col("v").as("u"), col("u").as("v")))
    val deg = eu.groupBy(col("u").as("n")).agg(count(lit(1)).as("d"))
    // the oriented table carries the TARGET's degree (dt): wedge
    // endpoints must be ordered by the same (degree, id) struct the
    // orientation uses — ordering them by raw id alone would probe the
    // closing edge in the wrong direction whenever the two non-minimum
    // corners' id order disagrees with their (degree, id) order, and
    // silently drop that triangle
    val oriented = edges
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          col("u")).otherwise(col("v")).as("s"),
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          col("v")).otherwise(col("u")).as("t"),
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          col("dv")).otherwise(col("du")).as("dt"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // with endpoints in (degree, id) order, the closing edge b—c is
    // ALWAYS oriented b→c (orientation points at the (degree, id)-larger
    // endpoint), so one probe direction is provably complete
    val wedges = oriented.alias("w1")
      .join(oriented.alias("w2"),
        col("w1.s") === col("w2.s") &&
          struct(col("w1.dt"), col("w1.t")) < struct(col("w2.dt"), col("w2.t")))
      .select(col("w1.s").as("a"), col("w1.t").as("b"), col("w2.t").as("c"))
    val tri = wedges.join(oriented.alias("e3"),
        col("b") === col("e3.s") && col("c") === col("e3.t"))
      .select(col("a"), col("b"), col("c"))
    val perNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("n"), "left")
      .na.fill(0L, Seq("triangles"))
      .select(col("n"), col("d").as("degree"), col("triangles"))
  }

  /** k-core decomposition by iterative peeling (Seidman 1983; the
    * Batagelj–Zaveršnik peel re-expressed as synchronous rounds): each
    * round removes every node whose CURRENT degree is < k, together
    * with its edges, until no node changes — the surviving subgraph is
    * the k-core, the standard "dense enough to matter" filter for
    * community mining, spam/bot subgraph extraction, and graph
    * sparsification before the expensive operators (triangles, LPA).
    *
    * Input: symmetrized undirected edges (`src`, `dst`), deduplicated.
    * Returns (`nid`, `deg`): surviving nodes with their degree inside
    * the core.
    *
    * Rounds are capped at `maxRounds` for replayability; peeling is
    * MONOTONE (the edge set only shrinks, each round's filter is
    * determined by the previous round's survivors), so an unchanged
    * edge COUNT implies an unchanged set and the rounds stop at the
    * fixpoint — converged rounds are no-ops, which is what makes a
    * fixed-round oracle replay exact whether or not the data needed
    * all the rounds.
    *
    * 100 TB shape: each round is one partial-agg'd degree count plus
    * two src-/dst-keyed semi-filters of the edge table — the alive
    * table carries bare node ids, and the edge table shrinks
    * monotonically so every round is cheaper than the last. The edge
    * count behind the early stop is observed on the round's own
    * checkpoint job ([[Checkpoints.rounds]]). A round references its
    * predecessor THREE times (degree count + two semi-filters), so a
    * lazy chain would triple its logical plan every round (exponential
    * plan growth kills the driver long before executor cost matters);
    * checkpointed rounds keep plan and work linear, nothing ever
    * recomputes back through the peel chain, and no per-round cache
    * accumulates. The returned frame reads only the final round's
    * checkpoint blocks, which free when it is garbage collected. */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int): DataFrame = {
    require(k >= 1, s"k out of range: $k")
    require(maxRounds >= 1 && maxRounds <= 30,
      s"maxRounds out of range: $maxRounds")
    val init = edges.select(col("src"), col("dst")).localCheckpoint()
    val (core, _) = Checkpoints.rounds(init, maxRounds, ownsInit = true,
        stop = Some(count(lit(1)))) { (e, _) =>
      val alive = e.groupBy(col("src").as("n"))
        .agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("n"))
      e.join(alive.withColumnRenamed("n", "src"), Seq("src"))
        .join(alive.withColumnRenamed("n", "dst"), Seq("dst"))
        .select(col("src"), col("dst"))
    }
    core.groupBy(col("src").as("nid")).agg(count(lit(1)).as("deg"))
  }

  /** Connected components by alternating large-star / small-star
    * (Kiveris et al. 2014, "Connected Components in MapReduce and
    * Beyond" — the algorithm published for trillion-edge graphs), the
    * second, independently-derived CC implementation next to
    * [[Dedup.connectedComponents]]'s pointer doubling. Where pointer
    * doubling keeps a LABEL table and chases it through the original
    * edge set every round, star rounds rewrite the EDGE SET itself
    * toward a forest of stars — each round is two pure
    * groupBy-min + join passes over the current edges with no side
    * label state, and the edge set shrinks monotonically toward one
    * (child → root) row per non-root node. That shape is why it wins
    * at extreme scale: the working set is the (shrinking) edge table
    * alone, every exchange carries bare (long, long) pairs, and the
    * reduce key is always a plain node id (combinable map-side).
    *
    * One round, exactly as replayed by q189's oracle:
    *  - large-star: per node u over its symmetric neighborhood Γ(u),
    *    m = min(Γ(u) ∪ {u}); emit (v, m) for every v ∈ Γ(u), v > u.
    *  - small-star: orient every edge (big, small); per node u over
    *    its smaller neighbors N(u), m = min(N(u) ∪ {u}); emit (v, m)
    *    for v ∈ N(u) ∪ {u}, v ≠ m.
    * Both halves dedup their output (`distinct`) — the emitted
    * multiset has duplicates by construction and carrying them would
    * compound per round. Deterministic given the edge set, so a FIXED
    * round count replays bit-for-bit in any ANSI engine.
    *
    * `pairs` carries one row per undirected edge (`id_a`, `id_b`),
    * self-loops ignored. Returns (`id`, `label`) for every node
    * incident to an edge, label = component minimum (the
    * [[Dedup.connectedComponents]] contract, so the two algorithms are
    * interchangeable and spec-gated equal). Runs `rounds` alternations
    * and then ASSERTS convergence by checking every input edge joins
    * two equal labels — a wrong round count fails loudly instead of
    * returning split components (the check is one pass over the input
    * pairs; labels are node-count-sized and broadcast or
    * co-partitioned).
    *
    * Iteration hygiene: each round's edge table is checkpointed and the
    * superseded round freed (the [[Checkpoints]] protocol) — a round
    * reads its predecessor four times, so a lazy chain would grow the
    * plan 4^R.
    */
  def ccLargeSmallStar(pairs: DataFrame, rounds: Int,
                       skipAssert: Boolean = false): DataFrame = {
    require(rounds >= 1 && rounds <= 15, s"rounds out of range: $rounds")
    val input = starInput(pairs)
    val e = runStarRounds(input, rounds, keepInput = true)
    val labels = starLabels(input, e)
    if (e ne input) freeCheckpoint(e)
    // convergence assert: a valid labeling is constant across every
    // input edge; min-propagation can only produce in-component node
    // ids, so edge-constant ⇒ label = component minimum exactly.
    // `skipAssert` elides the input-edge re-join for callers whose
    // protocol re-verifies the labeling downstream anyway (the
    // streaming drains' startup probes re-check every log edge); the
    // default stays loud — silent split components are worse than one
    // broadcast-or-co-partitioned pass over the edges.
    val bad = if (skipAssert) 0L else invalidEdgeCount(input, labels)
    freeCheckpoint(input)
    if (bad != 0) throw new IllegalStateException(
      s"ccLargeSmallStar did not converge in $rounds rounds " +
        "(an input edge still joins two labels); raise rounds")
    labels
  }

  /** [[ccLargeSmallStar]] iterated to a VERIFIED fixed point instead of
    * a fixed round count — the streaming-merge edition (ADVICE r10:
    * with a fixed cap, a delta batch needing one round more than the
    * budget throws AFTER the edge-log append, and the startup repair
    * then re-runs the identical failing merge — a poison batch no
    * restart can clear). Runs `hint` rounds, checks validity (every
    * input edge joins two equal labels — the same one-pass probe the
    * fixed-round assert pays), and keeps iterating round batches with
    * a re-check until valid, throwing only past `maxRounds` (default
    * 64 ≈ the star bound for graphs far beyond any real corpus; the
    * throw then signals a genuine bug, not an undersized budget).
    * Identical output to a converged [[ccLargeSmallStar]] call — the
    * extra rounds past convergence are no-ops on a star forest, so
    * round count does not leak into the labeling. */
  def ccLargeSmallStarFixedPoint(pairs: DataFrame, hint: Int = 8,
                                 maxRounds: Int = 64): DataFrame = {
    require(hint >= 1 && maxRounds >= hint,
      s"round budget out of range: hint=$hint max=$maxRounds")
    val input = starInput(pairs)
    var e = runStarRounds(input, hint, keepInput = true)
    var done = hint
    var labels = starLabels(input, e)
    while (invalidEdgeCount(input, labels) != 0) {
      freeCheckpoint(labels)
      if (done >= maxRounds) {
        if (e ne input) freeCheckpoint(e)
        freeCheckpoint(input)
        throw new IllegalStateException(
          s"ccLargeSmallStarFixedPoint did not converge in $maxRounds " +
            "rounds — star convergence is ~log2(n); this is a bug, " +
            "not an undersized budget")
      }
      // geometric re-check cadence: each batch doubles the rounds run
      // so the validity probe (a pass over the input edges) amortizes
      // keepInput guards `input`'s blocks; a superseded intermediate
      // edge set frees inside runStarRounds after its first round
      val batch = math.min(done, maxRounds - done)
      val e2 = runStarRounds(e, batch, keepInput = e eq input)
      e = e2
      done += batch
      labels = starLabels(input, e)
    }
    if (e ne input) freeCheckpoint(e)
    freeCheckpoint(input)
    labels
  }

  /** Canonical (u, v) long edge table for the star rounds, eagerly
    * materialized (reused by every round's replay AND the validity
    * probe). */
  private def starInput(pairs: DataFrame): DataFrame =
    pairs.select(col("id_a").cast("long").as("u"),
        col("id_b").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .localCheckpoint()

  /** `rounds` large-star/small-star alternations from edge set `start`
    * (each round eagerly checkpointed, predecessor freed — a round
    * reads its predecessor four times, so a lazy chain would grow the
    * plan 4^R). `keepInput` guards the caller's `start` blocks. */
  private def runStarRounds(start: DataFrame, rounds: Int,
                            keepInput: Boolean): DataFrame = {
    // OPTIMIZATION r13 (guide §2.4 — the SuffixDedup window rewrite,
    // star edition): each star step computed the per-node minimum with
    // a groupBy + join-back — two exchanges moving the same edge rows —
    // where a min-over-window on the SAME u-partitioning moves them
    // once. The emitted edge SETS are identical: the join fanned the
    // group minimum back onto every edge row exactly as the window
    // does, and the small-star's per-node (u → m) emission rides the
    // same rows through the final distinct (one (u, m) per edge
    // collapses to one per node there — same set, same checkpoint).
    // Hot-node skew lands one task either way (the join-back fan-out
    // had the same bound).
    //
    // OPTIMIZATION r14 (guide §2.4/§2.3 — remove an exchange, compute
    // each window once). Two rewrites, same emitted edge set per round:
    //  1. the INTERMEDIATE large-star `distinct` is gone (4 exchanges
    //     per round → 3): the small-star's min-over-window is
    //     duplicate-insensitive and the round's FINAL distinct already
    //     bounds what the checkpoint stores, so the mid-round dedup
    //     bought nothing but its own exchange — duplicates never
    //     compound across rounds because every round still ends in one
    //     distinct. Bytes through the small-star exchange are the
    //     large-star's ≤|E| emissions instead of their deduped subset;
    //     bytes through the REMOVED exchange were the same rows, so
    //     total exchange volume is never worse.
    //  2. both sides of each union (the symmetric neighborhood and the
    //     small-star's two emissions) now EXPLODE from one pass instead
    //     of scanning the window output twice — the window sort + min
    //     compute once per round instead of twice (Generate runs in
    //     whole-stage codegen; union-of-two-selects re-executed the
    //     whole window subtree per branch, which ReuseExchange does not
    //     dedupe: it reuses only the exchange BELOW the window).
    // OPTIMIZATION r14 continuation (guide §2.4 — don't compute things
    // you throw away): the round map f is a deterministic function of
    // the edge SET, so once a round returns its own input (f(e) = e)
    // every remaining round is a bit-identical no-op — the budgeted
    // rounds past the fixed point bought nothing but their 3 exchanges
    // and a checkpoint each. Detection is FREE per round and exact at
    // the stop decision:
    //  - each round's checkpoint is LAZY and materialized by a fused
    //    (count, bit_xor of xxhash64(u, v)) aggregate — the same single
    //    scan the eager checkpoint already paid for its internal
    //    materialization job, so a graph that uses its whole budget
    //    pays NOTHING extra (measured: the first cut of this ran a
    //    separate count per round plus a probe on every
    //    count-stable round and regressed q189 +48% — star rounds
    //    stabilize their edge COUNT two rounds before the edge SET);
    //  - the exact set-equality probe (±1-flag aggregate over the two
    //    materialized distinct edge sets) runs only when count AND
    //    xor-fingerprint both repeat — in practice only at the true
    //    fixed point. A 2^-64 fingerprint collision costs one wasted
    //    probe, never a wrong stop: the probe is exact.
    // Output is identical either way, so the fixed-round oracle replay
    // (whose extra rounds are the same no-ops) never desyncs. The
    // FixedPoint caller's maxRounds accounting is unchanged: a
    // converged batch still counts its full `rounds`, so an
    // invalid-but-fixed-point labeling (a genuine bug) still reaches
    // the loud throw instead of spinning.
    var e = start
    var first = true
    var prevCnt = -1L
    var prevFp = 0L
    var r = 0
    var converged = false
    val byU = Window.partitionBy(col("u"))
    while (r < rounds && !converged) {
      // symmetric neighborhood in one scan: each stored edge fans out
      // as (u→v) and (v→u)
      val nb = e.select(explode(array(
          struct(col("u"), col("v")),
          struct(col("v").as("u"), col("u").as("v")))).as("p"))
        .select(col("p.u").as("u"), col("p.v").as("v"))
        .withColumn("m", least(col("u"), min(col("v")).over(byU)))
      // large-star: attach every larger neighbor of u to u's minimum
      val ls = nb.filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
      // small-star: orient (big → small), attach u and all its smaller
      // neighbors to their minimum; emit both (v, m) and (u, m) from
      // the same window pass
      val sb = ls.select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v"))
        .withColumn("m", least(col("u"), min(col("v")).over(byU)))
      val ss = sb.select(explode(array(
          struct(col("v").as("u"), col("m").as("v")),
          struct(col("u"), col("m").as("v")))).as("p"))
        .select(col("p.u").as("u"), col("p.v").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
        // lazy checkpoint: the raw count+fingerprint pass below is the
        // materializing action — the SAME single no-exchange job the
        // eager form's internal rdd.count() was, so full-budget graphs
        // pay nothing extra for convergence detection (a Dataset-level
        // agg here costs a per-round plan + partial/final agg exchange;
        // measured worse)
        .localCheckpoint(false)
      val (cnt, fp) = countAndFingerprint(ss)
      if (r < rounds - 1 && cnt == prevCnt && fp == prevFp)
        converged = ss.select(col("u"), col("v"), lit(1L).as("f"))
          .unionByName(e.select(col("u"), col("v"), lit(-1L).as("f")))
          .groupBy(col("u"), col("v")).agg(sum(col("f")).as("d"))
          .filter(col("d") =!= 0).isEmpty
      prevCnt = cnt
      prevFp = fp
      if (!first || !keepInput) freeCheckpoint(e)
      e = ss
      first = false
      r += 1
    }
    e
  }

  /** One pass over a just-lazy-checkpointed (u: long, v: long) edge
    * frame: materializes the checkpoint (the eager form's internal
    * count job, reused) and returns (row count, order-independent
    * xor-of-splitmix64 set fingerprint). Driver-side control logic
    * only — the fingerprint gates WHETHER the exact convergence probe
    * runs, never what any query returns. */
  private def countAndFingerprint(edges: DataFrame): (Long, Long) = {
    edges.queryExecution.toRdd.mapPartitions { it =>
      // splitmix64 inline so the closure captures nothing but itself
      def mix64(z0: Long): Long = {
        var z = z0 + 0x9E3779B97F4A7C15L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z ^ (z >>> 31)
      }
      var c = 0L
      var x = 0L
      while (it.hasNext) {
        val row = it.next()
        c += 1
        x ^= mix64(mix64(row.getLong(0)) ^ row.getLong(1))
      }
      Iterator((c, x))
    }.fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 ^ b._2))
  }

  /** Labels from a star forest `e`: every node incident to a final edge
    * takes its minimum neighbor (roots take themselves); nodes whose
    * component collapsed early (star edges absorbed them) are
    * re-covered from the ORIGINAL node set of `input`. */
  private def starLabels(input: DataFrame, e: DataFrame): DataFrame = {
    val nb = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
    val lab = nb.groupBy(col("u").as("id"))
      .agg(least(col("u"), min(col("v"))).as("label"))
    val nodes = input.select(col("u").as("id"))
      .unionByName(input.select(col("v").as("id"))).distinct()
    nodes.join(lab, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
      .localCheckpoint()
  }

  /** 1 iff any input edge joins two unequal labels (0 = valid CC
    * labeling). One pass over `input`; labels are node-count-sized and
    * broadcast or co-partitioned. */
  private def invalidEdgeCount(input: DataFrame,
                               labels: DataFrame): Long =
    input
      .join(labels.select(col("id").as("u"), col("label").as("la")), Seq("u"))
      .join(labels.select(col("id").as("v"), col("label").as("lb")), Seq("v"))
      .filter(col("la") =!= col("lb"))
      .limit(1).count()

  /** Deterministic random-walk corpus (the DeepWalk/node2vec input,
    * Perozzi et al. 2014) with NO RNG: at step t the walk at node u
    * moves to the neighbor v minimizing the engine's replayable 48-bit
    * hash of (salt, start, t, v) — each neighbor's hash is uniform, so
    * the pick is uniform-over-neighbors in distribution, yet every
    * engine, retry, and partition layout reproduces the same walk
    * (`rand()`-driven walks are layout-dependent; these replay in the
    * q196 oracle). One walk starts at every node of `edges`' source
    * column; `edges` should carry both directions for undirected
    * graphs, which also guarantees every node has a successor.
    *
    * 100 TB shape: the edge table is hashed by src and persisted once
    * (the [[integerPageRank]] layout); each step is one
    * frontier⋈edges join whose candidate rows collapse map-side to
    * one (start, argmin) row per walk BEFORE the exchange (min of a
    * (hash, dst) struct — partial-aggregable), and the growing path
    * string rides the node-count-sized walk table, never the
    * candidate exchange. Walk tables are one [[Checkpoints.rounds]]
    * round per step.
    *
    * Returns (start, path) with path = comma-joined node sequence of
    * length steps+1. */
  def hashRandomWalks(edges: DataFrame, steps: Int, salt: String): DataFrame = {
    require(steps >= 1 && steps <= 10, s"steps out of range: $steps")
    import org.apache.spark.storage.StorageLevel
    import graft.functions.KmvAggregator
    val ed = edges.select(col("src"), col("dst"))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val init = ed.select(col("src").as("start")).distinct()
      .select(col("start"), col("start").as("cur"),
        col("start").cast("string").as("path"))
      .localCheckpoint()
    val (walk, _) = Checkpoints.rounds(init, steps, ownsInit = true) {
        (walk, t) =>
      val nxt = walk.select(col("start"), col("cur"))
        .join(ed, col("cur") === col("src"))
        .groupBy(col("start"))
        .agg(min(struct(
          KmvAggregator.kmvHash(concat(lit(salt + ":"), col("start"),
            lit(s":$t:"), col("dst"))).as("h"),
          col("dst").as("d"))).as("w"))
        .select(col("start"), col("w.d").as("nxt"))
      walk.join(nxt, Seq("start"))
        .select(col("start"), col("nxt").as("cur"),
          concat(col("path"), lit(","), col("nxt").cast("string")).as("path"))
    }
    ed.unpersist(blocking = false)
    walk.select(col("start"), col("path"))
  }

  /** Incremental connected components against STANDING labels — the
    * graph member of the standing-corpus family (q104/q108's banded
    * dedup, q127's spans, q136's inverted index): a DELTA batch of
    * edges arrives and only the components it TOUCHES re-solve;
    * every other node keeps its label without entering the iteration.
    * This is how a 100 TB link graph absorbs a crawl increment — the
    * full-graph recompute is corpus-priced, the increment is
    * delta-priced.
    *
    * `standing` is a valid (id, label) CC labeling (label = component
    * minimum — [[ccLargeSmallStar]] / [[Dedup.connectedComponents]]
    * output); `delta` carries new undirected (id_a, id_b) edges.
    * Mechanics:
    *  1. delta endpoints look up their current labels (nodes new to
    *     the graph label themselves) → the TOUCHED component set;
    *  2. the affected subgraph = delta edges ∪ the (member → label)
    *     star edges of touched components ONLY — a star is
    *     connectivity-equivalent to the original component, so the
    *     subgraph solve is exact while carrying |delta| + |touched
    *     members| edges, not the corpus;
    *  3. [[ccLargeSmallStar]] solves the subgraph (loud convergence
    *     assert — star components have diameter ≤ 2, so small round
    *     budgets hold regardless of the ORIGINAL components'
    *     diameters: the spec pins that untouched topology never
    *     enters the iteration);
    *  4. untouched rows pass through label-identical (anti-join).
    *
    * Returns (id, label) for standing ∪ delta nodes, ≡ a full
    * recompute on the union graph (oracle + spec gated).
    *
    * Caching contract: the standing-label and delta frames are
    * localCheckpointed (each is read 2-3 times across the touched-set
    * derivation, the subgraph solve, and the anti-join); their blocks
    * free when the returned frame is garbage-collected — consume the
    * result promptly in long-lived sessions (the Verify/Bench
    * harnesses clear RDD state per query). */
  def incrementalCc(standing: DataFrame, delta: DataFrame,
                    rounds: Int, toFixedPoint: Boolean = false): DataFrame = {
    val lbl = standing.select(col("id").cast("long").as("id"),
        col("label").cast("long").as("label"))
      .localCheckpoint() // read three times below
    val d = delta.select(col("id_a").cast("long").as("id_a"),
        col("id_b").cast("long").as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .localCheckpoint()
    val ends = d.select(col("id_a").as("id"))
      .unionByName(d.select(col("id_b").as("id"))).distinct()
    val touched = ends.join(lbl, Seq("id"), "left")
      .select(coalesce(col("label"), col("id")).as("label")).distinct()
    val affectedStar = lbl.join(touched, Seq("label"))
    val subEdges = d.unionByName(
      affectedStar.filter(col("id") =!= col("label"))
        .select(col("id").as("id_a"), col("label").as("id_b")))
    // `toFixedPoint` swaps the fixed-round solve (exact replay — the
    // q195 oracle unrolls `rounds` alternations) for the verified
    // fixed-point one (streaming merges, where an undersized budget
    // would otherwise poison the batch — see ccLargeSmallStarFixedPoint)
    val newLab =
      if (toFixedPoint) ccLargeSmallStarFixedPoint(subEdges, hint = rounds)
      else ccLargeSmallStar(subEdges, rounds)
    val unaffected = lbl.join(touched, Seq("label"), "left_anti")
      .select(col("id"), col("label"))
    unaffected.unionByName(newLab.select(col("id"), col("label")))
  }

  /** HyperBall (Boldi & Vigna 2013): the neighborhood function
    * N(t) = Σ_v |B(v, t)| estimated with per-node HLL counters —
    * average distance / effective diameter of graphs whose exact BFS
    * ball materialization is corpus-infeasible. Round t replaces every
    * node's counter with the max-merge of its own and its successors'
    * counters (c_t(v) = c_{t−1}(v) ∪ ⋃_{(v,w)∈E} c_{t−1}(w)), so after
    * t rounds the counter estimates |{u : dist(v, u) ≤ t}|.
    *
    * Returns one row per round t = 0..rounds:
    * (t, reg_sum, nf_micro) — reg_sum is the INTEGER sum of all
    * register values across nodes (the exact replay pin), nf_micro the
    * neighborhood-function estimate Σ_v rawEstimate(c_t(v)) with each
    * per-node estimate rounded to integer micro-units BEFORE the sum,
    * which keeps the total order-independent and so exactly replayable
    * (a float sum over millions of nodes would drift with partitioning;
    * a sum of longs cannot).
    *
    * 100 TB shape: the whole state is |V| rows of m bytes — LITERALLY:
    * counters ride between rounds as PACKED BINARY register vectors
    * ([[graft.functions.HllBytesAggregator]]), so the per-round
    * edges⋈counters join and the max-merge aggregate exchange m bytes
    * per row instead of array<int>'s 4m-plus-offsets (4-5× less shuffle
    * volume at m = 64); registers unpack only at the per-round 1-row
    * summary. Compare the exact alternative, whose ball membership
    * table multiplies by the average degree EVERY round (the oracle
    * pays that cost at test scale; at 10× the merge row count grows
    * linearly while exact membership grows by degree^rounds). Estimates
    * carry standard HLL error (~1.04/√m); the registers themselves are
    * exact and bit-identical to the unpacked formulation's. */
  def hyperBall(edges: DataFrame, rounds: Int, p: Int = 6): DataFrame = {
    require(rounds >= 1 && rounds <= 6, s"rounds out of range: $rounds")
    import org.apache.spark.storage.StorageLevel
    import graft.functions.{Hll, KmvAggregator}
    val ed = edges.select(col("src"), col("dst"))
      .repartition(col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = edges.select(col("src").as("v"))
      .unionByName(edges.select(col("dst").as("v")))
      .distinct()
    // OPTIMIZATION r13 (guide §7.3 — the harmonicCentrality rationale):
    // rounds were persist-chained and each per-round summary was an
    // EAGER head() over a plan that re-embedded every earlier round's
    // subtree, so the driver paid Catalyst over a linearly growing plan
    // seven times AND collected seven scalars through the driver.
    // Rounds now localCheckpoint (constant-sized plans, same
    // one-exchange-per-round execution) and the per-round 1-row
    // summaries stay LAZY over those checkpoints, unioned into the
    // returned frame — the caller's single action computes all of them
    // in one job. Every round's counter table stays referenced by the
    // output, so nothing frees early: the residual is ≤ rounds+1
    // node-count × m-byte checkpoints, reclaimed when the returned
    // frame is garbage-collected (the documented-residual contract).
    var ctr = nodes
      .groupBy(col("v"))
      .agg(Hll.hllBytes(p)(KmvAggregator.kmvHash(col("v"))).as("regs"))
      .localCheckpoint()
    def summary(t: Int, c: DataFrame): DataFrame = c
      .select(Hll.unpackRegs(col("regs")).as("u"))
      .select(
        aggregate(col("u"), lit(0L), (a, x) => a + x).as("rsum"),
        floor(Hll.rawEstimate(Hll.harmonicS(col("u"), p), p)
          * 1000000.0 + 0.5).cast("long").as("nfm"))
      .agg(sum(col("rsum")).as("reg_sum"), sum(col("nfm")).as("nf_micro"))
      .select(lit(t.toLong).as("t"), col("reg_sum"), col("nf_micro"))
    var out = summary(0, ctr)
    for (t <- 1 to rounds) {
      val next = ctr
        .unionByName(ed
          .join(ctr.withColumnRenamed("v", "dst"), Seq("dst"))
          .select(col("src").as("v"), col("regs")))
        .groupBy(col("v"))
        .agg(Hll.hllMergeBytes(p)(col("regs")).as("regs"))
        .localCheckpoint()
      out = out.unionByName(summary(t, next))
      ctr = next
    }
    ed.unpersist(blocking = false)
    out
  }

  /** HARMONIC CENTRALITY from HyperBall's registers (Boldi & Vigna
    * 2014 §3 — the centrality HyperBall was built to make feasible):
    * H(v) = Σ_{t≥1} (|B(v,t)| − |B(v,t−1)|) / t, the number of nodes
    * first reached at distance t, inverse-distance weighted. Ball
    * sizes are the SAME per-node HLL estimates [[hyperBall]] keeps —
    * this is the per-node read of the registers the global
    * neighborhood function already maintains, not a new sketch.
    *
    * Integer-exact accumulation (the q145/q207 rule): each round's
    * per-node estimate floors to micro-units BEFORE any arithmetic,
    * and the 1/t weights scale by lcm(1..rounds), so hc is a sum of
    * exact long products — bit-replayable in any ANSI engine. The
    * estimates are monotone under register max-merge, so every delta
    * is ≥ 0. Returns (v, hc) with hc in micro·lcm units.
    *
    * 100 TB shape: identical to [[hyperBall]] — one register exchange
    * per round keyed on the node id, plus a node-count-sized (v, prev,
    * hc) state table that joins the new estimates by id; nothing
    * corpus² anywhere. */
  def harmonicCentrality(edges: DataFrame, rounds: Int,
                         p: Int = 6): DataFrame = {
    require(rounds >= 1 && rounds <= 6, s"rounds out of range: $rounds")
    import org.apache.spark.storage.StorageLevel
    import graft.functions.{Hll, KmvAggregator}
    val lcm = Seq(1L, 1L, 2L, 6L, 12L, 60L, 60L)(rounds)
    val ed = edges.select(col("src"), col("dst"))
      .repartition(col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = edges.select(col("src").as("v"))
      .unionByName(edges.select(col("dst").as("v")))
      .distinct()
    val estMicro: org.apache.spark.sql.Column =
      floor(Hll.rawEstimate(
          Hll.harmonicS(Hll.unpackRegs(col("regs")), p), p)
        * 1000000.0 + 0.5).cast("long")
    // OPTIMIZATION r13 (guide §7.3 — planning time IS runtime): the
    // persist-and-count round protocol kept every round's FULL logical
    // subtree in the plan (persist caches data but never truncates
    // lineage), so by round 4 the analyzed plan was ~2.3 MB and each
    // action re-paid Catalyst over it. Checkpointed rounds
    // ([[Checkpoints.rounds]]) truncate each round to a LogicalRDD:
    // per-round plans stay constant-sized, the same
    // one-exchange-per-round execution shape is unchanged, and the
    // superseded round's blocks free exactly as before.
    //
    // OPTIMIZATION r14 (guide §2.4 — one materialization per round, not
    // two): the registers now RIDE the state table (v, regs, prev, hc),
    // so the per-round register merge and the hc update are one job and
    // one checkpoint where the r13 shape paid a `next` checkpoint AND a
    // `nextState` checkpoint (plus the extra v-keyed join exchange
    // between them). Arithmetic is unchanged — same merge, same estMicro
    // floor, same (est − prev) · w accumulation — so q209 replays
    // bit-identically; per-round state is node-count × (m bytes + 2
    // longs), exactly the two r13 tables folded into one.
    val init = nodes
      .groupBy(col("v"))
      .agg(Hll.hllBytes(p)(KmvAggregator.kmvHash(col("v"))).as("regs"))
      .withColumn("prev", estMicro)
      .withColumn("hc", lit(0L))
      .localCheckpoint()
    val (state, _) = Checkpoints.rounds(init, rounds, ownsInit = true) {
        (state, t) =>
      val w = lcm / t
      state.select(col("v"), col("regs"))
        .unionByName(ed
          .join(state.select(col("v").as("dst"), col("regs")), Seq("dst"))
          .select(col("src").as("v"), col("regs")))
        .groupBy(col("v"))
        .agg(Hll.hllMergeBytes(p)(col("regs")).as("regs"))
        .join(state.select(col("v"), col("prev"), col("hc")), Seq("v"))
        .select(col("v"), col("regs"), estMicro.as("est"), col("prev"),
          col("hc"))
        .select(col("v"), col("regs"), col("est").as("prev"),
          (col("hc") + (col("est") - col("prev")) * w).as("hc"))
    }
    ed.unpersist(blocking = false)
    state.select(col("v"), col("hc"))
  }
}
