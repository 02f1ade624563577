package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Link-graph analytics over a plain `(src, dst)` edge frame — the
  * crawl-curation side of a training-data pipeline: PageRank-style
  * authority scores weight a domain/host graph (quality signals for
  * sampling), triangle counts measure local clustering (link-farm /
  * spam-shape detection). No graph library — every step is an
  * ordinary shuffle-partitionable join/agg, which is exactly how
  * these scale to a multi-billion-edge host graph.
  */
object GraphRank {

  /** Integer-scaled PageRank, damping 85/100, `iters` synchronous
    * power iterations. All arithmetic is integer floor division on a
    * fixed-point rank (`scale` = 1.0), so the scores and their ORDER
    * re-derive exactly in any engine — same portability contract as
    * the PMI and unigram-log-prob scores. No overflow headroom
    * worries: total mass never exceeds `scale`, so every intermediate
    * stays ≤ 85·scale « 2^63.
    *
    * Per iteration: ONE shuffle of |E| on src (attach current ranks)
    * and one of |E| on dst (sum contributions); the rank frame is
    * |V| rows — broadcast-sized for host graphs (millions of hosts),
    * and for billion-node graphs pre-bucket the edge frame on src so
    * the attach join's exchange is elided every round. Lineage grows
    * linearly with `iters`: for the usual 10-30 fixed iterations
    * that is fine; an until-convergence loop should localCheckpoint
    * every few rounds like [[Dedup]]'s connected-components loop.
    *
    * Dangling nodes (no out-edges) drop their mass instead of
    * redistributing it — the standard simplification; ranking order
    * is unaffected for the quality-weighting use case. Duplicate
    * edges are collapsed (simple-graph semantics). The node count is
    * the one driver-side scalar (a single long, a plan literal —
    * same bounded contract as [[Layout.write]]'s curve bounds).
    *
    * Returns `(node, rank)`, rank in fixed-point `scale` units.
    */
  def pageRank(edges: DataFrame, srcCol: Column, dstCol: Column,
               iters: Int, scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 0, "iters must be >= 0")
    // Loop invariants are localCheckpoint'ed ONCE (opt r17): without
    // the pins the unrolled plan recomputes the caller's edge
    // derivation (often a multi-join) for the node count AND once
    // more inside the iteration chain — measured 2.3× wall on the
    // trade-graph gate. Same discipline the until-convergence loop
    // always had; the canonical edge list `e` is released as soon as
    // nodes/eDeg are materialized, and nodes/eDeg are released after
    // the final ranks checkpoint (the [[kCore]] return contract: the
    // result IS an eager localCheckpoint).
    val e = edges.select(srcCol.cast("long").as("src"), dstCol.cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .localCheckpoint(true)
    // nodes and eDeg derive independently from the pinned e — overlap
    // their pin jobs from two driver threads (opt r18, guide §2.6)
    val (nodes, eDeg) = Checkpoints.inParallel(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
        .localCheckpoint(true),
      e.join(
        e.groupBy(col("src")).agg(count(lit(1)).as("__outdeg")), "src")
        .localCheckpoint(true))
    val n = nodes.count()
    require(n > 0, "pageRank: empty graph")
    val base = scale * 15L / 100L / n
    unpersistCheckpoint(e) // nodes/eDeg hold everything the loop needs
    var ranks = nodes.withColumn("rank", lit(scale / n))
    for (_ <- 1 to iters) {
      val sums = eDeg
        .join(maybeBroadcastRanks(ranks.withColumnRenamed("node", "src"), n), "src")
        .select(col("dst").as("node"),
          call_function("div", col("rank"), col("__outdeg")).as("__c"))
        .groupBy("node").agg(sum("__c").as("__s"))
      ranks = nodes.join(sums, Seq("node"), "left")
        .select(col("node"),
          (lit(base) +
            call_function("div", coalesce(col("__s"), lit(0L)) * 85L, lit(100L)))
            .as("rank"))
    }
    val out = ranks.localCheckpoint(true)
    unpersistCheckpoint(nodes)
    unpersistCheckpoint(eDeg)
    out
  }

  /** Rank-vector broadcast gate (opt r17, guide §3.1): the per-
    * iteration contribution join ships only (node, rank) — 16 bytes a
    * node — so up to [[BroadcastRankMaxNodes]] the rank frame
    * broadcasts (~64 MB built) and the |E|-sized eDeg side is never
    * shuffled per round; beyond it the plan is byte-identical to the
    * un-hinted shuffle join. The gate reads the EXACT node count the
    * loop already paid for — never an estimate. Join results are
    * identical either way (same rows, same arithmetic); only the
    * exchange count changes. */
  private val BroadcastRankMaxNodes = 4000000L
  private def maybeBroadcastRanks(ranks: DataFrame, n: Long): DataFrame =
    if (n <= BroadcastRankMaxNodes) broadcast(ranks) else ranks

  /** [[pageRank]] run until the rank vector stops moving instead of a
    * fixed iteration count: stops when the total L1 rank change drops
    * to `tolerance` fixed-point units or below (integer arithmetic, so
    * "converged" is exact and engine-reproducible — no epsilon drift),
    * or at `maxIters` as a backstop.
    *
    * Two things a fixed-iter loop doesn't need, both scale-critical:
    *
    *   - **lineage truncation**: every round's rank frame is lazily
    *     `localCheckpoint`ed with the convergence aggregate as the
    *     materializing action (one job per round — the CC-loop
    *     pattern), keeping the
    *     plan one round deep no matter how many rounds convergence
    *     takes — an unchecked loop re-plans a linearly-growing join
    *     tree and eventually stalls the optimizer (same discipline as
    *     [[Dedup]]'s pointer-jumping CC loop, which this mirrors
    *     including the RDD-level unpersist of superseded rounds, so a
    *     long convergence run cannot accumulate cached blocks);
    *   - **a bounded per-round driver scalar**: the convergence test
    *     aggregates |Δrank| to ONE long per round — the same bounded
    *     contract as the CC loop's convergence sum; nothing
    *     data-sized ever reaches the driver.
    *
    * The returned frame IS the last (materialized) localCheckpoint
    * (same reuse contract as the CC loop: do not unpersist while
    * consuming).
    * Returns `(node, rank, rounds)` — rounds is the same value on
    * every row (a literal), recording how many iterations ran.
    */
  def pageRankUntilConverged(edges: DataFrame, srcCol: Column, dstCol: Column,
                             tolerance: Long = 1000000L, maxIters: Int = 100,
                             scale: Long = 1000000000000L): DataFrame =
    // uniform PageRank IS the personalized loop with every node
    // seeded: ns = n, every __s = 1, so the init rank (scale/n) and
    // per-round base term (scale·15/100/n) are the identical
    // integers — one loop to maintain instead of two near-copies.
    // seedsOpt = None tells the shared loop "the seed set IS the node
    // set" (opt r17): the old wrapper materialized its own all-nodes
    // frame from a second edge derivation and the loop then semi-
    // joined it back against the identical internal node set — for a
    // caller edge frame with join lineage that re-ran the whole
    // derivation twice for frames the loop already had
    prUntilConverged(edges, srcCol, dstCol, None,
      tolerance, maxIters, scale)

  /** [[personalizedPageRank]] run to convergence — the same
    * discovered-round-count loop, checkpoint discipline, and bounded
    * per-round |Δrank| scalar as [[pageRankUntilConverged]], with the
    * teleport mass restricted to the seed set. Returns
    * `(node, rank, rounds)`. */
  def personalizedPageRankUntilConverged(
      edges: DataFrame, srcCol: Column, dstCol: Column,
      seeds: DataFrame, seedCol: Column,
      tolerance: Long = 1000000L, maxIters: Int = 100,
      scale: Long = 1000000000000L): DataFrame =
    prUntilConverged(edges, srcCol, dstCol, Some((seeds, seedCol)),
      tolerance, maxIters, scale)

  /** Shared until-convergence loop: `seedsOpt = None` is the uniform
    * (all-nodes-seeded) PageRank, `Some((seeds, seedCol))` the
    * personalized one. */
  private def prUntilConverged(
      edges: DataFrame, srcCol: Column, dstCol: Column,
      seedsOpt: Option[(DataFrame, Column)],
      tolerance: Long, maxIters: Int, scale: Long): DataFrame = {
    require(maxIters >= 1, "maxIters must be >= 1")
    // canonical edge list pinned ONCE (opt r17): nodes, the seed
    // semi-join, and eDeg all re-evaluated `e` — for a caller edge
    // frame carrying join lineage (the trade-graph gates) that meant
    // three to four full derivations before the first round ran
    val e = edges.select(srcCol.cast("long").as("src"), dstCol.cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .localCheckpoint(true)
    // nodes and eDeg derive independently from the pinned e — overlap
    // their pin jobs from two driver threads (opt r18, guide §2.6)
    val (nodes, eDeg) = Checkpoints.inParallel(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
        .localCheckpoint(true),
      e.join(
        e.groupBy(col("src")).agg(count(lit(1)).as("__outdeg")), "src")
        .localCheckpoint(true))
    // None = uniform loop: the seed set IS the node set, so the
    // semi-join and the seed-flag left join would both be identity
    // operations — skip them (identical __s/ns/base arithmetic)
    val seedSet = seedsOpt match {
      case Some((seeds, seedCol)) =>
        seeds.select(seedCol.cast("long").as("node")).distinct()
          .join(nodes, Seq("node"), "left_semi")
      case None => nodes
    }
    val ns = seedSet.count()
    require(ns > 0, "personalizedPageRankUntilConverged: no seed overlaps the graph")
    val base = scale * 15L / 100L / ns
    unpersistCheckpoint(e)
    // loop state carries (node, __s, rank): folding the seed flag AND
    // the previous rank into one frame makes the per-round cost
    // exactly TWO joins (|E| contribution join + |V| right join back
    // onto the state) and puts the |Δrank| the stop test needs on the
    // checkpoint itself as a derived column — no third join and no
    // separate delta job, just a scan-agg of the materialized frame
    val flagged = seedsOpt match {
      case Some(_) =>
        nodes.join(seedSet.withColumn("__s", lit(1L)), Seq("node"), "left")
          .select(col("node"), coalesce(col("__s"), lit(0L)).as("__s"))
      case None => nodes.withColumn("__s", lit(1L))
    }
    var state = flagged
      .withColumn("rank", col("__s") * lit(scale / ns))
      .localCheckpoint(true)
    unpersistCheckpoint(nodes)
    // NOTE (opt r17): the fixed-iteration variants broadcast the rank
    // frame; this loop deliberately does NOT — each round's state is
    // already a materialized localCheckpoint whose post-shuffle size
    // AQE sees exactly, so it plans the small-side broadcast itself,
    // and an explicit per-round BroadcastExchange + driver collect
    // measured 0.7 s SLOWER on the convergence gate.
    var rounds = 0
    var moved = Long.MaxValue
    while (moved > tolerance && rounds < maxIters) {
      // LAZY checkpoint: the stop-test aggregate below doubles as the
      // materializing action (the clusters-loop pattern) — one job
      // per round, not a checkpoint job plus an agg job
      val next = eDeg
        .join(state.select(col("node").as("src"), col("rank")), "src")
        .select(col("dst").as("node"),
          call_function("div", col("rank"), col("__outdeg")).as("__c"))
        .groupBy("node").agg(sum("__c").as("__sum"))
        .join(state, Seq("node"), "right")
        .select(col("node"), col("__s"),
          (col("__s") * lit(base) +
            call_function("div", coalesce(col("__sum"), lit(0L)) * 85L, lit(100L)))
            .as("rank"),
          col("rank").as("__prev"))
        .withColumn("__d", abs(col("rank") - col("__prev")))
        .select("node", "__s", "rank", "__d")
        .localCheckpoint(false)
      moved = next.agg(sum(col("__d"))).head().getLong(0)
      unpersistCheckpoint(state)
      state = next
      rounds += 1
    }
    unpersistCheckpoint(eDeg)
    state.select(col("node"), col("rank")).withColumn("rounds", lit(rounds))
  }

  /** K-core decomposition by iterative peeling: repeatedly remove
    * nodes whose degree in the CURRENT induced subgraph is below `k`
    * until a fixpoint — the standard crawl-graph curation filter
    * (spam/link-farm tails peel away; the dense core that survives is
    * where authority signals are meaningful). Returns
    * `(node, deg, rounds)`: the k-core's nodes with their core
    * degrees, `rounds` = peeling iterations to fixpoint (same value
    * on every row); empty when no k-core exists.
    *
    * Input is canonicalized undirected-simple (self-loops and
    * duplicate/reverse edges collapse). Each round is one degree
    * aggregation + one semi-join on |E| — hash equi-joins only; the
    * edge frame is lazily localCheckpoint'ed per round with the edge
    * count as the materializing action, and the superseded
    * checkpoint unpersisted (the [[Dedup]] CC loop's discipline);
    * the per-round driver scalar is ONE long (the
    * surviving-edge count). Rounds are bounded by the peeling depth —
    * ≤ |V| in theory, tiny in practice on heavy-tailed graphs. */
  def kCore(edges: DataFrame, srcCol: Column, dstCol: Column, k: Int,
            maxRounds: Int = 1000): DataFrame = {
    require(k >= 1, "k must be >= 1")
    var und = edges.select(
        least(srcCol.cast("long"), dstCol.cast("long")).as("u"),
        greatest(srcCol.cast("long"), dstCol.cast("long")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(true)
    var nEdges = und.count()
    var rounds = 0
    var shrunk = true
    while (shrunk && rounds < maxRounds && nEdges > 0) {
      val deg = und.select(col("u").as("node"))
        .union(und.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select("node")
      val next = und
        .join(keep.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
        .join(keep.withColumnRenamed("node", "v"), Seq("v"), "left_semi")
        // lazy: the edge count below materializes it in the same job
        .localCheckpoint(false)
      val n2 = next.count()
      rounds += 1
      shrunk = n2 < nEdges
      unpersistCheckpoint(und)
      und = next
      nEdges = n2
    }
    // Materialize the small (node, deg) result into its OWN
    // checkpoint so the final edge checkpoint can be released here:
    // returning an aggregation over the pinned edge frame would leave
    // its storage blocks un-releasable by the caller, and repeated
    // kCore calls in a long session would accumulate them. The
    // returned frame follows the loop-body contract: it IS an eager
    // localCheckpoint (callers may Checkpoints.unpersist it when
    // done consuming).
    val out = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .withColumn("rounds", lit(rounds))
      .localCheckpoint(true)
    unpersistCheckpoint(und)
    out
  }

  /** Directed BFS hop distance from a seed set, capped at `maxHops` —
    * the trust-tier / seed-proximity signal (rank hosts by how many
    * links separate them from a vetted set; unreached nodes are
    * absent). Frontier expansion with min-distance folding: each
    * round is one |E| equi-join + one min-aggregate, the distance
    * frame is eagerly localCheckpoint'ed and the superseded round
    * unpersisted, and the loop exits early when a round discovers no
    * new node (one boolean-sized driver scalar — a count — per
    * round). The result is cap-independent for any cap ≥ the true
    * eccentricity, so a fixed-depth oracle replays it exactly.
    * Returns `(node, dist)`, seeds at 0. */
  def seedDistances(edges: DataFrame, srcCol: Column, dstCol: Column,
                    seeds: DataFrame, seedCol: Column,
                    maxHops: Int = 10): DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    val e = edges.select(srcCol.cast("long").as("src"), dstCol.cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .localCheckpoint(true)
    var dist = seeds.select(seedCol.cast("long").as("node")).distinct()
      .withColumn("dist", lit(0L)).localCheckpoint(true)
    var n = dist.count()
    var hops = 0
    var grew = n > 0
    while (grew && hops < maxHops) {
      val next = dist
        .join(e.withColumnRenamed("src", "node"), "node")
        .select(col("dst").as("node"), (col("dist") + 1L).as("dist"))
        .union(dist)
        .groupBy("node").agg(min("dist").as("dist"))
        .localCheckpoint(true)
      val n2 = next.count()
      hops += 1
      grew = n2 > n
      unpersistCheckpoint(dist)
      dist = next
      n = n2
    }
    unpersistCheckpoint(e)
    dist
  }

  /** Community detection by SYNCHRONOUS label propagation — the
    * cheap complement of connected components for graphs that are
    * one big component (a dense trade/link graph): labels seed as
    * node ids and each round every node adopts the most frequent
    * label among its (deduped, undirected) neighbours, ties to the
    * SMALLEST label — fully deterministic, unlike the classic
    * async/random-order formulation, so a SQL oracle replays it
    * round-for-round. Fixed `rounds` (LP plateaus in a few rounds on
    * small-world graphs; a fixed count also sidesteps the 2-cycle
    * oscillation synchronous LP can fall into — the result is a
    * deterministic iterate either way).
    *
    * Each round is ONE |E| equi-join + two aggregations (count per
    * (node, label), then argmax via `max(struct(cnt, -label))` —
    * map-side partial aggs, no windows); the label frame is
    * checkpoint-per-round with superseded RDDs released, the shared
    * loop discipline. Isolated nodes cannot occur (the node set is
    * derived from the edges). Returns `(node, label)`. */
  def labelPropagation(edges: DataFrame, srcCol: Column, dstCol: Column,
                       rounds: Int): DataFrame = {
    require(rounds >= 0, "rounds must be >= 0")
    val e = edges.select(srcCol.cast("long").as("src"), dstCol.cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
    val und = e.select(col("u").as("node"), col("v").as("nbr"))
      .union(e.select(col("v").as("node"), col("u").as("nbr")))
      .localCheckpoint(true)
    var lab = und.select(col("node")).distinct()
      .withColumn("label", col("node")).localCheckpoint(true)
    var r = 0
    while (r < rounds) {
      val next = lpRound(und, lab).localCheckpoint(true)
      unpersistCheckpoint(lab)
      lab = next
      r += 1
    }
    unpersistCheckpoint(und)
    lab
  }

  /** One synchronous LP round: every node adopts its neighbours' most
    * frequent label, ties to the smallest — |E| equi-join + two
    * map-side-partial aggregations, shared by the fixed-round and
    * until-convergence variants. */
  private def lpRound(und: DataFrame, lab: DataFrame): DataFrame =
    und.join(lab.select(col("node").as("nbr"), col("label").as("nlab")), "nbr")
      .groupBy("node", "nlab").agg(count(lit(1)).as("cnt"))
      .groupBy("node")
      .agg(max(struct(col("cnt"), negate(col("nlab")).as("neg"))).as("b"))
      .select(col("node"), negate(col("b.neg")).as("label"))

  /** [[labelPropagation]] run to a DISCOVERED stopping point instead
    * of a fixed round count — the same loop discipline as
    * [[pageRankUntilConverged]] (checkpoint-per-round, superseded
    * RDDs released, one bounded scalar to the driver per probe), with
    * the two stop conditions synchronous LP actually needs:
    *
    *  1. **Convergence**: no node changed label this round — the
    *     labeling is a fixpoint; `converged = true`.
    *  2. **Period-2 oscillation**: the new state equals the state
    *     from two rounds ago. Synchronous LP famously falls into
    *     2-cycles on bipartite-ish structure (the textbook example:
    *     a single edge swaps labels forever), so without this probe a
    *     fixed-round cut can return an arbitrary phase of the cycle
    *     with no signal; here the loop stops and reports
    *     `converged = false`.
    *
    * Each probe is an equi-join on `node` + a count — never a
    * collect of the label frame. Returns `(node, label, rounds,
    * converged)`: `rounds` counts executed rounds INCLUDING the one
    * that confirmed the fixpoint / cycle (same convention as
    * [[pageRankUntilConverged]]), and the labels are the
    * just-computed state at that round. */
  def labelPropagationUntilConverged(edges: DataFrame, srcCol: Column,
                                     dstCol: Column,
                                     maxRounds: Int = 50): DataFrame = {
    require(maxRounds >= 1, "maxRounds must be >= 1")
    val e = edges.select(srcCol.cast("long").as("src"), dstCol.cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
    val und = e.select(col("u").as("node"), col("v").as("nbr"))
      .union(e.select(col("v").as("node"), col("u").as("nbr")))
      .localCheckpoint(true)
    var lab = und.select(col("node")).distinct()
      .withColumn("label", col("node")).localCheckpoint(true)
    var prevPrev: DataFrame = null
    var rounds = 0
    var converged = false
    var stop = false
    while (!stop && rounds < maxRounds) {
      // LAZY checkpoint: the probe below is the materializing action
      val next = lpRound(und, lab).localCheckpoint(false)
      // ONE probe job per round (the pageRankUntilConverged
      // discipline): both stop scalars — changes vs the current state
      // and, once a round-2 state exists, changes vs it (the
      // oscillation probe) — come from a single join pass
      val probe = next.select(col("node"), col("label").as("l1"))
        .join(lab.select(col("node"), col("label").as("l0")), "node")
      val Array(changed, osc) =
        if (prevPrev == null)
          // no round-2 state yet: an oscillation probe would misfire
          Array(probe.filter(col("l1") =!= col("l0")).count(), -1L)
        else probe
          .join(prevPrev.select(col("node"), col("label").as("l2")), "node")
          .agg(sum(when(col("l1") =!= col("l0"), 1L).otherwise(0L)),
            sum(when(col("l1") =!= col("l2"), 1L).otherwise(0L)))
          .head().toSeq.map(_.asInstanceOf[Long]).toArray
      rounds += 1
      if (changed == 0L) { converged = true; stop = true }
      else if (osc == 0L) stop = true
      if (prevPrev != null) unpersistCheckpoint(prevPrev)
      prevPrev = lab
      lab = next
    }
    unpersistCheckpoint(und)
    if (prevPrev != null) unpersistCheckpoint(prevPrev)
    lab.withColumn("rounds", lit(rounds)).withColumn("converged", lit(converged))
  }

  private def unpersistCheckpoint(df: DataFrame): Unit =
    Checkpoints.unpersist(df)

  /** Personalized PageRank: the teleport mass lands ONLY on the seed
    * set instead of uniformly — scores become "proximity to the
    * seeds" rather than global centrality, the standard
    * trust/relevance propagation (seed a few vetted hosts or
    * documents, rank the rest by how strongly the link structure
    * ties them back). Same fixed-point integer arithmetic, shuffle
    * shape, and dangling/duplicate-edge semantics as [[pageRank]];
    * seeds outside the graph are ignored, and the one extra
    * driver-side scalar is the seed count. Non-seed nodes with no
    * in-path from a seed correctly stay at rank 0. */
  def personalizedPageRank(edges: DataFrame, srcCol: Column, dstCol: Column,
                           seeds: DataFrame, seedCol: Column, iters: Int,
                           scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 0, "iters must be >= 0")
    // same loop-invariant pinning + rank-broadcast gate as [[pageRank]]
    // (opt r17); arithmetic and output rows are unchanged
    val e = edges.select(srcCol.cast("long").as("src"), dstCol.cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .localCheckpoint(true)
    // nodes and eDeg derive independently from the pinned e — overlap
    // their pin jobs from two driver threads (opt r18, guide §2.6)
    val (nodes, eDeg) = Checkpoints.inParallel(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
        .localCheckpoint(true),
      e.join(
        e.groupBy(col("src")).agg(count(lit(1)).as("__outdeg")), "src")
        .localCheckpoint(true))
    val nNodes = nodes.count()
    val seedSet = seeds.select(seedCol.cast("long").as("node")).distinct()
      .join(nodes, Seq("node"), "left_semi")
    val ns = seedSet.count()
    require(ns > 0, "personalizedPageRank: no seed overlaps the graph")
    val flagged = nodes.join(seedSet.withColumn("__s", lit(1L)), Seq("node"), "left")
      .select(col("node"), coalesce(col("__s"), lit(0L)).as("__s"))
      .localCheckpoint(true)
    val base = scale * 15L / 100L / ns
    unpersistCheckpoint(e)
    var ranks = flagged.withColumn("rank", col("__s") * lit(scale / ns))
    for (_ <- 1 to iters) {
      val sums = eDeg
        .join(maybeBroadcastRanks(
          ranks.select(col("node").as("src"), col("rank")), nNodes), "src")
        .select(col("dst").as("node"),
          call_function("div", col("rank"), col("__outdeg")).as("__c"))
        .groupBy("node").agg(sum("__c").as("__sum"))
      ranks = flagged.join(sums, Seq("node"), "left")
        .select(col("node"), col("__s"),
          (col("__s") * lit(base) +
            call_function("div", coalesce(col("__sum"), lit(0L)) * 85L, lit(100L)))
            .as("rank"))
    }
    val out = ranks.select(col("node"), col("rank")).localCheckpoint(true)
    unpersistCheckpoint(nodes)
    unpersistCheckpoint(flagged)
    unpersistCheckpoint(eDeg)
    out
  }

  /** Exact triangle count of the undirected simple graph on
    * `(src, dst)`. Edges are canonicalized (self-loops and duplicates
    * dropped), then ORIENTED from lower to higher degree (id as the
    * tie-break) — a total order, so each triangle is counted exactly
    * once, and the standard trick that makes the wedge join
    * sub-quadratic: a hub of degree d contributes wedges only
    * through its FEW lower-degree endpoints instead of d² pairs,
    * bounding total wedges by O(|E|^1.5) on any graph. Any total
    * order yields the same count (a triangle has exactly one
    * orientation-consistent wedge under each), which is why the
    * id-ordered SQL oracle agrees with the degree-ordered plan here.
    *
    * Plan: two shuffles — wedges (oriented ⋈ oriented on the middle
    * vertex) and the closing-edge semi-join — both hash equi-joins;
    * nothing all-pairs. Returns a single `(n_triangles)` row.
    */
  def triangleCount(edges: DataFrame, srcCol: Column, dstCol: Column): DataFrame = {
    val und = edges.select(
        least(srcCol.cast("long"), dstCol.cast("long")).as("u"),
        greatest(srcCol.cast("long"), dstCol.cast("long")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val deg = und.select(col("u").as("node")).union(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val oriented = und
      .join(deg.select(col("node").as("u"), col("deg").as("__du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("__dv")), "v")
      .select(
        when(col("__du") < col("__dv") ||
          (col("__du") === col("__dv") && col("u") < col("v")),
          struct(col("u").as("a"), col("v").as("b")))
        .otherwise(struct(col("v").as("a"), col("u").as("b"))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
    val wedges = oriented
      .join(oriented.select(col("a").as("b"), col("b").as("c")), "b")
    wedges
      .join(oriented.select(col("a"), col("b").as("c")), Seq("a", "c"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
  }
}
