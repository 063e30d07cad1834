package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import CacheGuard.PersistTrackedOps

/** PageRank-style link centrality over an edge list — the graph-quality
  * signal of large-scale pretraining data curation (host/URL authority from
  * the crawl's link graph decides what gets kept; cf. the harmonic-centrality
  * filtering on Common Crawl in public corpus pipelines), and a generic
  * iterative-graph primitive (the reference's warehouse has no graph op;
  * this is part of the training-pipeline extension surface).
  *
  * ==Exactness==
  * Ranks live in FIXED-POINT BIGINT (scale 1e9), every step is integer
  * arithmetic (`div` truncation on non-negative operands matches DuckDB's
  * floor `//`), so a fixed iteration count yields bit-identical ranks on
  * any engine and any parallelism — no float summation order anywhere. The
  * deliberate trade: truncated contributions leak mass (total rank decays a
  * few ulps per iteration), which is irrelevant for ranking/filtering and
  * is the price of cross-engine determinism.
  *
  * ==Scale shape==
  * Each iteration is one join of the edge list with the key-cardinality
  * rank frame plus one groupBy(dst) — the standard Pregel-on-relations
  * shape: shuffle cost O(edges) per iteration, co-partitioned on the join
  * key, no all-pairs and no driver-side graph state (the only collect is
  * the 1-row node count, folded in as a broadcast scalar). Iterations are
  * a FIXED small count (the API contract), so lineage stays bounded
  * without checkpointing.
  */
object GraphRank {

  final val Scale = 1000000000L // 1e9 fixed-point

  /** Measured-width target for the iterative-loop exchanges (see
    * [[connectedComponents]]): one reduce partition per ~20k edge rows,
    * capped at the session shuffle width. 20k × ~16 B/row ≈ the point
    * where a partition's work first exceeds its task-scheduling cost on
    * gate-scale graphs (measured on the ER pair graph). */
  final val TargetRowsPerPartition = 20000L

  private def sessionWidth(df: DataFrame): Int =
    math.max(1, df.sparkSession.sessionState.conf.numShufflePartitions)

  /** Exchange width for a measured row count: rows/[[TargetRowsPerPartition]],
    * clamped to [1, session shuffle width]. At scale the ratio exceeds the
    * cap and saturates — callers treat a saturated width as "leave the plan
    * alone" so the 100 TB path keeps map-side partial aggregation (an
    * explicit pre-aggregate repartition satisfies the groupBy's required
    * distribution and would suppress the partial combine, moving edge-sized
    * rows where node-sized suffice). */
  private def widthFor(rows: Long, maxWidth: Int): Int =
    math.max(1, math.min(maxWidth.toLong, rows / TargetRowsPerPartition + 1L).toInt)

  /** Undirected expansion of a directed edge list: both directions, so no
    * node is dangling (every node has outdegree ≥ 1 by construction). */
  def undirected(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst"): DataFrame =
    edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .union(edges.select(col(dstCol).as("src"), col(srcCol).as("dst")))
      .distinct()

  /** `iters` rounds of damped PageRank over `edges` (directed; use
    * [[undirected]] first for symmetric authority). Nodes = every endpoint.
    * Damping is the rational `dampNum/100` (default 85/100) kept in integer
    * arithmetic. Returns (node BIGINT, rank BIGINT) at scale 1e9.
    *
    * rank₀(v)   = Scale div N
    * rankₖ₊₁(v) = ((100−d)·Scale div 100) div N
    *              + d · Σ_{u→v} (rankₖ(u) div outdeg(u)) div 100
    *
    * Dangling nodes (outdeg 0 in a directed graph) simply leak their mass —
    * acceptable for ranking; eliminate them via [[undirected]]. */
  def pageRank(edges: DataFrame, iters: Int = 3, dampNum: Int = 85): DataFrame = {
    require(iters >= 0 && dampNum >= 0 && dampNum <= 100)
    // materialize the (often distinct-heavy) edge build ONCE,
    // pre-partitioned on the join key: the checkpointed layout is reused by
    // EVERY iteration's rank join, so the edge list — the only
    // data-proportional frame — never crosses the wire again (the Pregel
    // static-edge-partitioning shape). Same localCheckpoint device as
    // TextDedup.clusters' rounds.
    // persist (not localCheckpoint): the cached plan KEEPS its
    // hashpartitioning(src) metadata, so every iteration's shuffled-hash
    // join sees the edge side already laid out and only moves ranks — a
    // checkpoint would erase the partitioning and re-exchange the edges
    // per iteration (verified in the physical plan).
    // NO measured-width pass here (r12): the r11 snapshot measured the
    // edge count through a standalone persist+count of the scan — a full
    // extra materialization of the O(E) frame per call — and then used the
    // width for a pre-aggregate repartition that SUPPRESSES map-side
    // partial aggregation whenever the width lands under the session
    // width (the widthFor hazard note). Measured at local[32] sf0.1:
    // q_x_pagerank 1.20 s (this shape) vs 2.82 s (measured-width shape),
    // hits 3.18 vs 6.95 — the probe pass costs more than a narrow width
    // ever saves, and at scale AQE coalesces the loop exchanges anyway.
    // CC/LPA/kCore keep their measured widths: their counts ride existing
    // convergence probes, so the width is free there.
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).repartition(col("src"))
      .persistTracked()
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // (node, outdeg) carrier: node-cardinality, referenced by every
    // iteration level — truncate it too, or each level re-runs its shuffles.
    // LEFT join so dst-only (dangling) nodes survive with NULL outdeg; they
    // never appear as a join src, so the NULL never reaches `div`.
    val ndeg = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .join(outdeg.withColumnRenamed("src", "node"), Seq("node"), "left")
      .localCheckpoint()
    // 1-row node count riding every row as a broadcast scalar (the same
    // no-collect pattern as the salted-join census)
    val n = ndeg.agg(count(lit(1)).as("n_nodes"))

    // SQL `div` (IntegralDivide) — the Column API has no integral-divide
    // operator, and float `/` + floor would be off-by-one in the last ulp
    // on long operands; `div` truncation on non-negative values ≡ DuckDB `//`.
    var rank = ndeg.crossJoin(broadcast(n))
      .select(col("node"), col("outdeg"), expr(s"$Scale div n_nodes").as("rank"))
    val base = (100L - dampNum) * Scale / 100L // driver-side exact constant
    for (_ <- 1 to iters) {
      // shuffle_hash on the node-sized rank side: only it moves (to e's
      // static layout) and it hash-builds without sorting the edge stream —
      // SMJ would re-sort O(edges) every iteration for no benefit. The
      // groupBy shuffles NODE-sized partial aggregates (map-side combine
      // runs on the join output — no explicit repartition may sit between
      // the join and the aggregate, or the partial phase is dropped and
      // edge-sized rows cross instead).
      val contrib = e
        .join(rank.withColumnRenamed("node", "src").hint("shuffle_hash"), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(expr("rank div outdeg")).as("inflow"))
      rank = ndeg.crossJoin(broadcast(n))
        .join(contrib, Seq("node"), "left")
        .select(col("node"), col("outdeg"),
          expr(s"($base div n_nodes) + (($dampNum * coalesce(inflow, 0)) div 100)")
            .as("rank"))
    }
    rank.select(col("node"), col("rank"))
  }

  /** Personalized PageRank (random-walk-with-restart): the restart mass
    * concentrates on `seeds` instead of spreading uniformly, so ranks
    * measure proximity TO THE SEED SET — the "items similar to these" /
    * query-biased authority shape. Same fixed-point BIGINT arithmetic and
    * per-iteration O(edges) shuffle as [[pageRank]]; the only differences
    * are the seed-indicator join (seed set is query-sized → broadcast) and
    * the restart term `(100−d)·Scale div 100 div n_seeds` paid only on
    * seed rows. Non-seed nodes unreachable from the seeds stay at rank 0 —
    * exactly the pruning a recommender wants. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iters: Int = 3,
      dampNum: Int = 85): DataFrame = {
    require(iters >= 0 && dampNum >= 0 && dampNum <= 100)
    // one edge materialization, pre-partitioned on the join key and
    // persisted WITH its partitioning metadata (see pageRank — the
    // static-edge-layout Pregel shape; no measured-width probe, same
    // rationale as pageRank)
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).repartition(col("src"))
      .persistTracked()
    val sd = seeds.select(col("node").cast("long").as("node")).distinct()
      .withColumn("is_seed", lit(1L))
    val ns = sd.agg(count(lit(1)).as("n_seeds"))
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val base = (100L - dampNum) * Scale / 100L
    // (node, outdeg, is_seed, n_seeds) carrier, checkpointed ONCE — every
    // iteration level of the lazy rank plan references it, and without
    // truncation each level re-runs the distinct + seed/outdeg joins.
    // greatest(n_seeds, 1): an EMPTY seed set means is_seed = 0 on every
    // row, so the numerator is already 0 — the floor only prevents the
    // 0-div-0 ANSI error and yields the correct all-zero ranks
    val withSeed = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .join(outdeg.withColumnRenamed("src", "node"), Seq("node"), "left")
      .join(broadcast(sd), Seq("node"), "left")
      .crossJoin(broadcast(ns))
      .select(col("node"), col("outdeg"),
        coalesce(col("is_seed"), lit(0L)).as("is_seed"),
        greatest(col("n_seeds"), lit(1L)).as("n_seeds"))
      .localCheckpoint()
    var rank = withSeed.select(col("node"), col("outdeg"),
      expr(s"(is_seed * $Scale) div n_seeds").as("rank"))
    for (_ <- 1 to iters) {
      // node-sized rank side shuffles to e's static layout and hash-builds
      // — the edge stream is never re-sorted or re-shuffled (see pageRank);
      // no repartition between join and groupBy (keeps partial aggregation)
      val contrib = e
        .join(rank.withColumnRenamed("node", "src").hint("shuffle_hash"), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(expr("rank div outdeg")).as("inflow"))
      rank = withSeed.join(contrib, Seq("node"), "left")
        .select(col("node"), col("outdeg"),
          expr(s"((is_seed * $base) div n_seeds) + " +
            s"(($dampNum * coalesce(inflow, 0)) div 100)").as("rank"))
    }
    rank.select(col("node"), col("rank"))
  }

  /** Co-occurrence edge list from (group, item) memberships: an edge (a, b),
    * a < b, for every item pair sharing ≥ `minShared` groups. Pair volume is
    * Σ per-group k² — bounded by the LARGEST GROUP, never corpus² (the same
    * contract as the n-gram blocking buckets; at web scale, cap or sample
    * oversized groups before calling — TPC-H orders hold ≤7 parts, so the
    * fixture needs no cap). `minShared` ≥ 2 is the standard sparsifier:
    * one shared basket is noise, repeat co-occurrence is signal. */
  def coOccurrenceEdges(memberships: DataFrame, groupCol: String, itemCol: String,
      minShared: Long = 2L): DataFrame = {
    // One grouped collect_set per group (map-side partial sets ≤ group
    // size), then the k² pair expansion happens MAP-SIDE over the sorted
    // member array — vs the equivalent self-join, this drops a whole
    // distinct shuffle and never moves the membership table twice. The
    // sorted array gives a < b for free.
    memberships.select(col(groupCol).cast("long").as("g"),
        col(itemCol).cast("long").as("i"))
      .groupBy(col("g")).agg(array_sort(collect_set(col("i"))).as("items"))
      .select(explode(expr(
        "flatten(transform(items, (x, ix) -> " +
          "transform(slice(items, ix + 2, size(items)), y -> struct(x AS a, y AS b))))"
      )).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("a"), col("b"))
  }

  /** Association rules over (group, item) memberships — the market-basket
    * mining classic (Agrawal & Srikant 1994's support/confidence frame plus
    * lift), and the co-occurrence statistics a corpus pipeline uses for
    * tag/domain affinity. Both directed rules per co-occurring pair with
    *   support    = n_ab / N            (pair frequency),
    *   confidence = n_ab / n_a          (P(b|a)),
    *   lift       = n_ab·N / (n_a·n_b)  (association vs independence),
    * each a SINGLE IEEE division (or one division of two exact integer
    * products), so values are bit-identical cross-engine — no float
    * accumulation anywhere.
    *
    * Shape: the [[coOccurrenceEdges]] pair expansion (bucket-bounded by the
    * largest group, never corpus²) + one item-count aggregate joined in, +
    * one top-k window ordered (lift desc, conf desc, a, b) — all
    * equi-joins on item keys. */
  def associationRules(memberships: DataFrame, groupCol: String, itemCol: String,
      minShared: Long = 2L, k: Int = 50): DataFrame = {
    // ONE data-sized shuffle: collect_set dedups (g, i) while grouping, so
    // the distinct-membership census, per-item counts, and pair expansion
    // all derive from the group-count-sized items frame (three scans of the
    // raw memberships collapse into one)
    val grp = memberships.select(col(groupCol).cast("long").as("g"),
        col(itemCol).cast("long").as("i"))
      .groupBy(col("g")).agg(array_sort(collect_set(col("i"))).as("items"))
      .persistTracked()
    val nGroups = grp.agg(count(lit(1)).as("n_groups"))
    val itemCounts = grp.select(explode(col("items")).as("i"))
      .groupBy(col("i")).agg(count(lit(1)).as("n_i"))
    val pairCounts = grp
      .select(explode(expr(
        "flatten(transform(items, (x, ix) -> " +
          "transform(slice(items, ix + 2, size(items)), y -> struct(x AS a, y AS b))))"
      )).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minShared)
    // both rule directions ride the same pair row; the item-count join is
    // item-cardinality-sized (AQE broadcasts when it fits)
    val directed = pairCounts
      .join(itemCounts.select(col("i").as("a"), col("n_i").as("n_a")), Seq("a"))
      .join(itemCounts.select(col("i").as("b"), col("n_i").as("n_b")), Seq("b"))
      .crossJoin(broadcast(nGroups))
    // both directions' antecedent AND consequent counts are already on the
    // row (n_a/n_b) — a third itemCounts join would re-shuffle for data
    // the pair row carries
    val rules = directed.select(col("a").as("antecedent"), col("b").as("consequent"),
        col("n_ab"), col("n_a").as("n_ante"), col("n_b").as("n_cons"), col("n_groups"))
      .unionByName(directed.select(col("b").as("antecedent"), col("a").as("consequent"),
        col("n_ab"), col("n_b").as("n_ante"), col("n_a").as("n_cons"), col("n_groups")))
      .select(col("antecedent"), col("consequent"), col("n_ab"),
        (col("n_ab").cast("double") / col("n_groups").cast("double")).as("support"),
        (col("n_ab").cast("double") / col("n_ante").cast("double")).as("confidence"),
        ((col("n_ab") * col("n_groups")).cast("double") /
          (col("n_ante") * col("n_cons")).cast("double")).as("lift"))
    // top-k as TakeOrderedAndProject (per-partition partial top-k, no
    // single-partition sort of the pair-cardinality rules frame); the rank
    // window then runs over k rows only
    rules.orderBy(col("lift").desc, col("confidence").desc,
        col("antecedent"), col("consequent")).limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(
          col("lift").desc, col("confidence").desc,
          col("antecedent"), col("consequent"))).cast("long"))
      .select(col("antecedent"), col("consequent"), col("n_ab"),
        col("support"), col("confidence"), col("lift"), col("rank"))
  }

  /** Exact triangle count over an ordered edge list (a < b on every row) —
    * the clustering-coefficient numerator, and the classic test that a
    * relational engine can do graph analytics without an adjacency-matrix
    * blowup. Shape: two equi-joins on node keys (edges⋈edges forming open
    * wedges, then one membership probe closing them) + one count — no
    * node-cardinality collect, no cross join; wedge volume is Σ deg(b)²
    * over middle nodes, the standard bound. Returns one row
    * (n_nodes, n_edges, n_triangles). */
  /** Synchronous label-propagation communities (LPA): labels start as node
    * ids; each round EVERY node simultaneously adopts the most frequent
    * label among its neighbors, ties broken by smallest label — fully
    * deterministic (the classic async LPA depends on visit order; the
    * synchronous form with a pinned tie-break has one possible trajectory,
    * which is what lets an oracle replay it round by round). Runs exactly
    * `rounds` rounds: synchronous LPA can 2-cycle on bipartite-ish
    * structure rather than converge, so a fixed budget is the SPEC, not a
    * fallback, and both engines agree at any sf by construction.
    *
    * Per round: one edge⋈label equi-join (label side is node-sized) + a
    * (node, label)-keyed count + a node-keyed struct-min argmax — O(E)
    * per round with localCheckpoint truncating lineage, the same
    * silhouette as connected components / k-core. Input: one-directional
    * undirected edges (a < b); output (node, community). */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    // static-edge layout, same device as pageRank: persist (NOT
    // localCheckpoint — it drops the partitioning metadata) the expanded
    // edge set pre-partitioned on the join key, so every round's
    // edge⋈label join sees the edge side already laid out and only the
    // node-sized label frame crosses the wire (one exchange per round on
    // the rank/label side, zero on the O(E) side).
    val u0 = edges.select(col("a").cast("long").as("src"), col("b").cast("long").as("dst"))
      .union(edges.select(col("b").cast("long").as("src"), col("a").cast("long").as("dst")))
      .persistTracked()
    // measured iteration width (the connectedComponents device); rp is a
    // no-op at saturation so the scale path keeps its partial aggregates
    val maxW = sessionWidth(edges)
    val w = widthFor(u0.count(), maxW)
    def lay(df: DataFrame, c: Column): DataFrame = // static layout (see pageRank)
      if (w >= maxW) df.repartition(c) else df.repartition(w, c)
    def rp(df: DataFrame, c: Column): DataFrame = // no-op at saturation
      if (w >= maxW) df else df.repartition(w, c)
    val und = lay(u0, col("src")).persistTracked()
    // eagerly materialize the laid-out frame (cheap: re-reads u0's cached
    // blocks through one exchange) so the scan cache can be released
    // in-function instead of doubling the edge-sized footprint until
    // the enclosing CacheGuard.scoped ends — mirrors the pageRank/hits path
    und.count()
    u0.unpersist(false)
    var labels = und.select(col("src").as("n")).distinct()
      .select(col("n"), col("n").as("community"))
    (1 to rounds).foreach { r =>
      // shuffle_hash: hash-build the node-sized label side against und's
      // static layout instead of sort-merging the edge stream every round.
      // One rp(dst) covers BOTH aggregates: hash(dst, w) satisfies the
      // (dst, community) clustering, and the argmax groupBy(n=dst) reuses
      // the same partitioning — zero extra exchanges per round.
      val counts = rp(und.join(
          labels.withColumnRenamed("n", "src").hint("shuffle_hash"), Seq("src")),
          col("dst"))
        .groupBy(col("dst").as("n"), col("community"))
        .agg(count(lit(1)).as("c"))
      labels = counts
        .groupBy(col("n"))
        .agg(min(struct((-col("c")).as("nc"), col("community").as("l"))).as("best"))
        .select(col("n"), col("best.l").as("community"))
      // each round references its predecessor exactly ONCE, so the chain
      // stays LAZY — the whole fixed-round fit runs as one multi-stage job
      // instead of `rounds` eagerly-materialized checkpoints (measured
      // 3.2 → ~1 s at 4 rounds). Checkpoint only every 8 rounds to bound
      // plan depth when a caller asks for a long budget.
      if (r % 8 == 0 && r < rounds) labels = labels.localCheckpoint()
    }
    labels
  }

  /** Connected components by GRAPH CONTRACTION (the MapReduce-CC family,
    * cf. Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14): each LEVEL runs 3 lazily-chained synchronous min-label
    * propagates over the level's self-looped edge set — label(n) ←
    * min{label(m) : m→n or m=n} — and then CONTRACTS the graph, mapping
    * every edge endpoint through its label, dropping intra-cluster edges,
    * and recursing on the (strictly smaller) inter-cluster graph. The
    * loop terminates exactly when no inter-cluster edge survives — every
    * component has contracted to a single representative, which is its
    * MINIMUM member id (the min is its own ball-min at every level, so it
    * is a representative at every level and nothing ever relabels it).
    * Final labels re-resolve through the per-level maps (one node-sized
    * left join per level).
    *
    * Convergence: each level's labels are 3-hop ball-mins, so every
    * node's label strictly decreases along edges toward a local min and
    * the contracted DIAMETER shrinks by ≥ 3 per level (additive worst
    * case, e.g. a monotone-id chain) and by ~(K+1)× on id-mixed graphs
    * (the gate graphs collapse in ≤ 2 levels at every tier, measured) —
    * `rounds` caps the LEVEL count; raise it for adversarial chains.
    * Emptiness of the contracted edge set IS the convergence test (a
    * 1-row probe on the checkpointed frame), so surplus budget is FREE
    * and the converged output equals any fixed-round min-label replay
    * that also converges — which is what lets the DuckDB oracles replay a
    * fixed (propagate, jump) pair budget as chained CTEs and hash-match
    * bit-exactly (the oracles run 7 pairs; every tier sf0.001→sf1
    * converges by ≤6, measured). GraphRankSpec pins the NON-converged
    * contract on a budget too small for the graph.
    *
    * Scale shape: work per level is O(E_level) with E geometrically
    * decreasing — total O(E log) with the constant dominated by level 1;
    * every step is an equi-join or keyed aggregate (AQE broadcasts the
    * node-sized label maps at gate scale, shuffles them at cluster
    * scale); per level exactly TWO eager jobs (the propagate chain and
    * the contraction), each localCheckpointed so the lazy level plans
    * never nest. No driver data-state: the only actions are the 1-row
    * emptiness probes. Input: one-directional undirected edges (a < b);
    * output (node, component) with component = min node id reached. */
  def connectedComponents(edges: DataFrame, rounds: Int,
      numPartitions: Int = 0): DataFrame = {
    // Each propagate references the label frame ONCE (the min-merge is
    // folded into the edge set as self-loops; self-loop DUPLICATES are
    // harmless under min, which saves the distinct's shuffle), so the
    // per-level propagate chain is legal LAZILY — and the chain's FIRST
    // propagate needs no label join at all: labels start as the identity,
    // so round one is just min(src) grouped by dst. The contraction
    // references the level map twice, which is why the map is
    // checkpointed first. A form that references its previous frame twice
    // per LAZY round doubles the logical plan every round — 2^rounds
    // lineage copies of the leaf (measured 137 s → ~5 s on the ER
    // composite at sf0.01).
    //
    // Exchange width: the loop runs ~6 exchanges per level, and each
    // session-width exchange on a SMALL edge set is pure task scheduling —
    // measured 3.5 s at 32 partitions vs 1.5 s at 8 for a 13.5k-edge ER
    // pair graph. `numPartitions` > 0 pins a caller-measured width (the
    // er_resolve path, which already counted its persisted pairs);
    // 0 (default) derives the width PER LEVEL from a measured edge count:
    // the input count rides the persist this function pays anyway, and the
    // per-level count IS the convergence probe (a contracted edge set is
    // converged exactly when count == 0, so the old isEmpty probe becomes
    // the width measurement for free). The contracted set shrinks
    // geometrically, so late levels drop to a handful of partitions
    // instead of idling a full session-width task wave 6× per level;
    // at scale the ratio rows/TargetRowsPerPartition exceeds the session
    // cap and the width saturates at the configured shuffle partitions —
    // scale-adaptive in both directions (guide §2: derive partitioning
    // from input size, don't tune a constant for either local or cluster).
    // Labels are partition-order-free (min-label), so output is identical
    // at any width.
    val maxWidth = sessionWidth(edges)
    var width = numPartitions
    // Saturated width = session width: skip the explicit repartition so
    // the aggregates keep their map-side partial phase (an exchange whose
    // distribution already satisfies the groupBy suppresses the partial
    // combine and would move edge-sized rows where node-sized suffice —
    // the 100 TB path must not pay for the gate-scale fix).
    def rp(df: DataFrame, cols: Column*): DataFrame =
      if (width <= 0 || width >= maxWidth) df
      else if (cols.isEmpty) df.repartition(width)
      else df.repartition(width, cols: _*)
    val PropagatesPerLevel = 3
    var e = rp(edges.select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
      .filter(col("a") =!= col("b")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val inputE = e
    // measured input width (one count on the frame this function just
    // persisted — the level-1 propagate re-reads the cached blocks)
    if (numPartitions <= 0) width = widthFor(e.count(), maxWidth)
    val resolveWidth = width // node-scale, for the resolve joins below
    var maps = List.empty[DataFrame] // deepest level first
    var lvl = 0
    var done = false
    while (!done && lvl < rounds) {
      val und = e.select(col("a").as("src"), col("b").as("dst"))
        .union(e.select(col("b").as("src"), col("a").as("dst")))
      val withSelf = und.union(und.select(col("src"), col("src").as("dst")))
      // propagate #1, label-join-free: component = min over neighbors+self
      var l = rp(withSelf, col("dst")).groupBy(col("dst").as("n"))
        .agg(min(col("src")).as("component"))
      for (_ <- 2 to PropagatesPerLevel)
        l = rp(rp(withSelf, col("src")).join(l.withColumnRenamed("n", "src"), Seq("src")),
            col("dst"))
          .groupBy(col("dst").as("n"))
          .agg(min(col("component")).as("component"))
      // LAZY checkpoints: the level map and the contracted edge set cache
      // on first computation, so the level's ONLY action is the emptiness
      // probe below — one driver round-trip per level instead of three
      // (eager checkpoints at ~0.4 s of scheduling each dominated the
      // whole operator on gate-scale graphs).
      val lc = l.localCheckpoint(eager = false)
      maps ::= lc
      val contracted = rp(rp(e, col("a"))
        .join(lc.select(col("n").as("a"), col("component").as("la")), Seq("a"))
        .join(lc.select(col("n").as("b"), col("component").as("lb")), Seq("b"))
        .select(least(col("la"), col("lb")).as("a"),
          greatest(col("la"), col("lb")).as("b"))
        .filter(col("a") =!= col("b")), col("a"), col("b"))
        .distinct()
        .localCheckpoint(eager = false)
      e = contracted
      // convergence probe doubles as the next level's width measurement
      // (count materializes the lazy checkpoint, as the old isEmpty did)
      val cnt = e.count()
      done = cnt == 0L
      if (numPartitions <= 0 && !done) width = widthFor(cnt, maxWidth)
      lvl += 1
    }
    inputE.unpersist(false)
    // resolve: compose the level maps shallowest→deepest. A representative
    // that had no surviving inter-cluster edge is absent from deeper maps
    // and keeps its label (left join + coalesce).
    maps.reverse match {
      case Nil =>
        inputE.sparkSession.emptyDataFrame
          .withColumn("n", lit(0L)).withColumn("component", lit(0L))
          .limit(0)
      case m0 :: rest =>
        // resolve at the INPUT-scale width: `out` starts node-sized (the
        // level-1 map), so the last contracted level's near-1 width would
        // squeeze it through too few partitions
        width = resolveWidth
        rest.foldLeft(m0) { (out, m) =>
          rp(out, col("component"))
            .join(m.select(col("n").as("component"), col("component").as("root")),
              Seq("component"), "left")
            .select(col("n"), coalesce(col("root"), col("component")).as("component"))
        }
    }
  }

  /** Incremental connected components — fold a BATCH of new edges into an
    * existing labeling without touching the old edge set (the recurring-
    * crawl shape of the dedup-graph family, like [[graft.operators.TextDedup
    * .minhashLshIncremental]] on the pair side): adding edges can only
    * MERGE components, so contract each old component to its label
    * (super-node), map the new edges' endpoints through the old labels
    * (unknown endpoints stay themselves), and run min-label propagation on
    * the CONTRACTED edge set only — whose size tracks the batch, not the
    * corpus. Old nodes then re-resolve through their component's new root.
    *
    * Exactness contract: the contraction step is exact when `oldLabels`
    * is a fixed point of its own graph (true components — the normal
    * state of a maintained labeling; spec-checked). The gate's oracle
    * replays both the seed fit and the contracted rounds verbatim, so the
    * hash is exact regardless.
    *
    * Scale: two label-map joins on the batch edges, then
    * [[connectedComponents]] over a batch-bounded contracted graph, then
    * one node-sized resolve join. The 100 TB property is what's ABSENT:
    * no old-edge scan, no corpus-sized iteration. */
  def connectedComponentsIncremental(oldLabels: DataFrame, newEdges: DataFrame,
      rounds: Int): DataFrame = {
    val lbl = oldLabels.select(col("n").cast("long").as("n"),
        col("component").cast("long").as("component"))
      .persistTracked()
    val e = newEdges.select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val contracted = e
      .join(lbl.select(col("n").as("a"), col("component").as("la")), Seq("a"), "left")
      .join(lbl.select(col("n").as("b"), col("component").as("lb")), Seq("b"), "left")
      .select(coalesce(col("la"), col("a")).as("x"),
        coalesce(col("lb"), col("b")).as("y"))
      .filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"))
      .distinct()
      // referenced 4x by connectedComponents' self-looped edge build —
      // persist so the map joins run once (the q_x_er_resolve lesson)
      .persistTracked()
    val merged = connectedComponents(contracted, rounds)
      .select(col("n").as("component"), col("component").as("root"))
    val newNodes = e.select(col("a").as("n")).union(e.select(col("b").as("n")))
      .distinct()
      .join(lbl.select("n"), Seq("n"), "left_anti")
      .select(col("n"), col("n").as("component"))
    lbl.unionByName(newNodes)
      .join(merged, Seq("component"), "left")
      .select(col("n"), coalesce(col("root"), col("component")).as("component"))
  }

  /** Multi-source BFS hop distances by synchronous min-plus propagation:
    * the distance frame starts as (seed, 0); each round every node takes
    * the minimum of its current distance and min(neighbor distance) + 1.
    * After `rounds` rounds the frame holds exact hop distances for every
    * node within `rounds` hops of a seed (and only those) — the corpus
    * "link distance from trusted set" signal (Harmonic-centrality /
    * TrustRank-style seed proximity) and the k-hop reachability primitive.
    *
    * Determinism: min is order-free and the round count is FIXED — the
    * budget is the spec, replayed verbatim by chained oracle CTEs, so the
    * gate is exact whether or not the frontier has drained (same contract
    * as [[connectedComponents]]).
    *
    * Scale shape: the static expanded edge set persists pre-partitioned on
    * the join key; each round exchanges only the node-sized distance frame
    * (shuffle-hash join + dst-keyed min, then a node-keyed union-min
    * merge). Distances are monotone non-increasing, so a production
    * variant may additionally restrict the propagate side to last round's
    * CHANGED rows (frontier form) without changing results; the dense form
    * here keeps the per-round plan identical for the oracle replay.
    * Input: one-directional undirected edges (a < b); seeds (n). Output
    * (n, dist) for seeds and every node reached within `rounds` hops. */
  def bfsHops(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    // Single-reference round (see [[connectedComponents]] for why a
    // keep-the-old-value merge must NOT re-reference the distance frame):
    // the identity is folded into the static edge set as WEIGHT-0
    // self-loops over graph nodes ∪ seeds, real edges weigh 1, and a
    // round is one join + dst-keyed min(dist + w). Seeds outside the
    // graph keep their row through their self-loop.
    val dir = edges.select(col("a").cast("long").as("src"), col("b").cast("long").as("dst"))
    val und = dir.union(dir.select(col("dst").as("src"), col("src").as("dst")))
      .select(col("src"), col("dst"), lit(1L).as("w"))
    val seedN = seeds.select(col("n").cast("long").as("n")).distinct()
    val selfLoops = und.select(col("src")).union(seedN.select(col("n").as("src")))
      .distinct()
      .select(col("src"), col("src").as("dst"), lit(0L).as("w"))
    // static layout on the join key (no measured-width probe: see
    // pageRank — the probe double-cached the O(E) frame and its
    // pre-aggregate repartition dropped the min's partial phase)
    val withSelf = und.union(selfLoops)
      .repartition(col("src"))
      .persistTracked()
    var dist = seedN.select(col("n"), lit(0L).as("dist"))
    (1 to rounds).foreach { r =>
      dist = withSelf.join(
          dist.withColumnRenamed("n", "src").hint("shuffle_hash"), Seq("src"))
        .groupBy(col("dst").as("n"))
        .agg(min(col("dist") + col("w")).as("dist"))
      if (r % 8 == 0 && r < rounds) dist = dist.localCheckpoint()
    }
    dist
  }

  /** k-core decomposition by synchronous peeling: each round recomputes
    * undirected degrees and drops every node below `k`, until either a
    * fixed point (no node dropped) or `rounds` rounds have run — whichever
    * comes first. Running extra rounds past convergence is the identity,
    * so an oracle that replays EXACTLY `rounds` rounds as chained CTEs
    * agrees with the early-exiting loop whenever the graph converges
    * within the budget (spec-checked; the gate uses a budget the fixture
    * converges well inside).
    *
    * Scale shape: per round one node-keyed degree aggregation + two
    * semi-joins of the edge list against the (node-sized) survivor set —
    * the same O(E) per-round cost as connected components, with
    * localCheckpoint truncating lineage so round N's plan doesn't replay
    * rounds 1..N−1. Peel rounds needed in practice is the graph's
    * degeneracy ordering depth, ≪ diameter on web-ish graphs. Input:
    * one-directional undirected edges (a < b); output survivors with their
    * in-core degree. */
  def kCore(edges: DataFrame, k: Long, rounds: Int): DataFrame = {
    // NOTE (r8, measured): an alternating-orientation variant that persists
    // each round's survivor frame WITH its second-join-key layout (so the
    // next round's first semi-join re-exchanges nothing — one edge-sized
    // exchange per round instead of two) was tried and REVERTED: each
    // round's cache is built once and read once, so the columnar
    // cache-encode cost exceeded the saved exchange (2.5 s vs 1.2 s at
    // sf0.1). That trade only pays where a cache is re-read many times —
    // pageRank/labelPropagation's STATIC edge frame — not for a frame that
    // shrinks and is replaced every round. localCheckpoint (raw-row
    // materialization, lineage truncation) is the right per-round device.
    var e = edges.select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
      .localCheckpoint()
    var prevCount = e.count()
    var done = false
    var r = 0
    // per-round exchange width from the surviving-edge count the
    // convergence test measures anyway (the connectedComponents device);
    // rp is a no-op at saturation, keeping scale-path partial aggregates
    val maxW = sessionWidth(edges)
    while (r < rounds && !done) {
      val wr = widthFor(prevCount, maxW)
      def rp(df: DataFrame, c: Column): DataFrame =
        if (wr >= maxW) df else df.repartition(wr, c)
      val deg = rp(e.select(col("a").as("n")).union(e.select(col("b").as("n"))),
          col("n"))
        .groupBy(col("n")).agg(count(lit(1)).as("dg"))
      val survivors = deg.filter(col("dg") >= k).select(col("n"))
      val next = rp(rp(e, col("a"))
          .join(survivors.withColumnRenamed("n", "a"), Seq("a"), "left_semi"),
          col("b"))
        .join(survivors.withColumnRenamed("n", "b"), Seq("b"), "left_semi")
        .select(col("a"), col("b")).localCheckpoint()
      val nextCount = next.count()
      done = nextCount == prevCount
      prevCount = nextCount
      e = next
      r += 1
    }
    e.select(col("a").as("n")).union(e.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("core_degree"))
  }

  /** `iters` rounds of HITS (Kleinberg hubs-and-authorities) over a DIRECTED
    * edge list — the link-quality twin of [[pageRank]]: a node is a good
    * AUTHORITY if good hubs point at it, a good HUB if it points at good
    * authorities. On the crawl graph this separates directories/link farms
    * (hubs) from canonical content (authorities), a different curation
    * signal than undirected centrality.
    *
    * Scores are L1-normalized to total mass [[Scale]] after every half-step
    * (the usual L2 norm needs a sqrt — a libm call that would break the
    * cross-engine bit-exactness contract; L1 gives the same RANKING and
    * keeps every step in truncating BIGINT arithmetic). Overflow bound:
    * a half-step's un-normalized total is ≤ Scale·maxDegree, and the
    * normalizing multiply is ≤ Scale² < 2^63 — exact while
    * maxDegree < 9.2e9.
    *
    * Per iteration: two node-sized score frames shuffle to the two
    * statically-persisted edge layouts (src-partitioned for the authority
    * half-step, dst-partitioned for the hub half-step) — the edge list
    * itself never re-exchanges, the [[pageRank]] Pregel device doubled.
    * Returns (node, hub_fp, auth_fp) at scale 1e9. */
  def hits(edges: DataFrame, iters: Int = 2): DataFrame = {
    require(iters >= 1)
    // static layouts on both half-step join keys (no measured-width probe:
    // see pageRank — the probe's extra materialization of the O(E) frame
    // cost 2.2× at local[32] sf0.1, and the sub-session width it measured
    // suppressed the half-steps' map-side partial aggregation: this graph
    // lands at w=30 of 32, r11's 6.95 s vs 3.18 s for this shape)
    val eSrc = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst")).repartition(col("src"))
      .persistTracked()
    val eDst = eSrc.repartition(col("dst")).persistTracked()
    val nodes = eSrc.select(col("src").as("node"))
      .union(eSrc.select(col("dst").as("node"))).distinct().localCheckpoint()
    val n = nodes.agg(count(lit(1)).as("n_nodes"))
    var hub = nodes.crossJoin(broadcast(n))
      .select(col("node"), expr(s"$Scale div n_nodes").as("hub"))
    var auth: DataFrame = null
    for (_ <- 1 to iters) {
      // authority half-step: hub mass flows src→dst. Each raw-inflow frame
      // is referenced TWICE (its L1 total and the normalize) — checkpoint
      // it (node-sized) or the lazy plan nests exponentially in iters,
      // recomputing the edge join once per reference. LAZY checkpoints
      // (the connectedComponents lesson): the plan is truncated for the
      // optimizer immediately and the frame caches on first compute, but
      // no per-half-step driver round-trip is paid.
      //
      // Intermediate score frames stay SPARSE: a node with zero inflow
      // normalizes to score 0, and zero-score rows contribute nothing to
      // the next half-step's SUM or to the L1 total, so the per-half-step
      // nodes left-join the oracle writes is deferred to the single final
      // densify below — four node-sized shuffle joins saved per fit,
      // value-identical output.
      val rawA = eSrc
        .join(hub.withColumnRenamed("node", "src").hint("shuffle_hash"), "src")
        .groupBy(col("dst").as("node")).agg(sum("hub").as("raw"))
        .localCheckpoint(eager = false)
      // greatest(…, 1): an all-zero score frame (n_nodes > Scale) must not
      // trip ANSI div-by-zero; the zero numerators stay zero either way
      val ta = rawA.agg(greatest(coalesce(sum("raw"), lit(1L)), lit(1L)).as("total"))
      auth = rawA.crossJoin(broadcast(ta))
        .select(col("node"), expr(s"(raw * $Scale) div total").as("auth"))
      // hub half-step: authority mass flows dst→src
      val rawH = eDst
        .join(auth.withColumnRenamed("node", "dst").hint("shuffle_hash"), "dst")
        .groupBy(col("src").as("node")).agg(sum("auth").as("raw"))
        .localCheckpoint(eager = false)
      val th = rawH.agg(greatest(coalesce(sum("raw"), lit(1L)), lit(1L)).as("total"))
      hub = rawH.crossJoin(broadcast(th))
        .select(col("node"), expr(s"(raw * $Scale) div total").as("hub"))
    }
    // densify once: every node appears in the output, absent scores are 0
    nodes
      .join(hub, Seq("node"), "left")
      .join(auth, Seq("node"), "left")
      .select(col("node"), coalesce(col("hub"), lit(0L)).as("hub_fp"),
        coalesce(col("auth"), lit(0L)).as("auth_fp"))
  }

  def triangleStats(edges: DataFrame): DataFrame = {
    // the edge list feeds five subtrees (both wedge sides, the closing
    // probe, the node census, the edge count) — persist it once;
    // released via CacheGuard.scoped (edge-sized, spills)
    val e = edges.select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
      .persistTracked()
    // the wedge frame is the big side (Σ deg(b)² rows): when a measured
    // count says the EDGE list fits in a broadcast, hint both the wedge
    // build and the closing probe so the wedge stream never shuffles —
    // one scan of e, two map-side hash joins. Past the cutoff (web-scale
    // graphs) both fall back to key-partitioned shuffles, which is the
    // correct cluster shape there.
    val nEdges = e.count()
    def maybeBcast(df: DataFrame) = if (nEdges <= 2000000L) broadcast(df) else df
    val wedges = e.as("e1").join(maybeBcast(e.as("e2")), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("wa"), col("e1.b").as("wb"), col("e2.b").as("wc"))
    val tris = wedges.join(maybeBcast(e.as("e3")),
      col("wa") === col("e3.a") && col("wc") === col("e3.b"))
    val nodes = e.select(col("a").as("n")).union(e.select(col("b").as("n"))).distinct()
    nodes.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(broadcast(e.agg(count(lit(1)).as("n_edges"))))
      .crossJoin(broadcast(tris.agg(count(lit(1)).as("n_triangles"))))
  }

  /** Neighbor-set Jaccard similarity — the structural-similarity primitive
    * behind link prediction, graph-side entity resolution, and SimRank-ish
    * "same thing, two nodes" detection: for node pairs (a, b), a < b,
    *   jac = |N(a) ∩ N(b)| / |N(a) ∪ N(b)|,
    * emitted as exact integers (n_common, deg_a, deg_b) plus the fixed-point
    * `jac_fp = (n_common · 10⁶) div (deg_a + deg_b − n_common)` — one
    * truncating integer division, bit-identical cross-engine.
    *
    * Candidate pairs come from a WEDGE equi-join (pairs sharing ≥ 1
    * neighbor), never node²: volume is Σ_w deg(w)², bounded by the hottest
    * node. That is the standard all-pairs-avoiding form, and also its known
    * scale hazard — at web scale, cap or drop hub nodes before calling
    * (exactly the mitigation [[coOccurrenceEdges]] documents for oversized
    * groups; a co-occurrence graph built with `minShared ≥ 2` is already
    * degree-bounded by construction). `minCommon` prunes the long noise
    * tail before the degree joins. */
  def neighborJaccard(edges: DataFrame, minCommon: Long = 1L): DataFrame = {
    val und = undirected(edges)
      .persistTracked()
    val common = und.select(col("dst").as("w"), col("src").as("a"))
      .join(und.select(col("dst").as("w"), col("src").as("b")), Seq("w"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
    val deg = und.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    common
      .join(deg.select(col("node").as("a"), col("deg").as("deg_a")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("deg_b")), Seq("b"))
      .select(col("a"), col("b"), col("n_common"), col("deg_a"), col("deg_b"),
        expr("n_common * 1000000 div (deg_a + deg_b - n_common)").as("jac_fp"))
  }

  /** HUB-CAPPED [[neighborJaccard]] — the production form at web scale:
    * wedge volume is Σ_w deg(w)², so one celebrity node with degree 10⁶
    * alone generates 10¹² candidate pairs. Capping the WEDGE CENTER —
    * nodes with degree > `maxDeg` mediate no wedges — bounds volume at
    * Σ min(deg, maxDeg≤)² while leaving the graph itself intact:
    * `n_common` counts only common neighbors of degree ≤ maxDeg (a
    * deterministic LOWER bound on the true overlap — a hub everyone
    * shares carries no similarity signal anyway, which is exactly why
    * dropping it is the standard mitigation), and `deg_a`/`deg_b` stay
    * the TRUE degrees, so `jac_fp` is the hub-discounted similarity. The
    * oracle replays the identical cap, so the gate is exact; the uncapped
    * [[neighborJaccard]] remains the small-graph form. The und/deg/centers
    * frames stay persisted because the returned lazy plan reads each more
    * than once; release via [[CacheGuard.scoped]] (edge-/node-sized —
    * the Trend/TextDedup cache-lifetime contract). */
  def neighborJaccardCapped(edges: DataFrame, maxDeg: Long,
      minCommon: Long = 1L): DataFrame = {
    val und = undirected(edges)
      .persistTracked()
    // node-sized and referenced 3× (center filter + both degree
    // join-backs); persisted so the capped form doesn't re-aggregate und
    // per reference
    val deg = und.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      .persistTracked()
    // cap applied BEFORE the wedge join: only low-degree centers fan out.
    // Persisted: both sides of the wedge self-join read this frame.
    val centers = und.join(
        deg.filter(col("deg") <= maxDeg).select(col("node").as("dst")),
        Seq("dst"), "left_semi")
      .persistTracked()
    val common = centers.select(col("dst").as("w"), col("src").as("a"))
      .join(centers.select(col("dst").as("w"), col("src").as("b")), Seq("w"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
    common
      .join(deg.select(col("node").as("a"), col("deg").as("deg_a")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("deg_b")), Seq("b"))
      .select(col("a"), col("b"), col("n_common"), col("deg_a"), col("deg_b"),
        expr("n_common * 1000000 div (deg_a + deg_b - n_common)").as("jac_fp"))
  }
}
