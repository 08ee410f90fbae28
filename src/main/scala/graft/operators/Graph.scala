package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SqlBridge.{leanCheckpoint, unpin}

/** Distributed graph centrality — PageRank over an edge list, the
  * graph-analytics staple beside [[Clusters.connectedComponents]]'
  * min-label propagation (the reference has no graph surface at all;
  * a corpus pipeline meets these graphs constantly: dup-pair graphs,
  * link graphs, co-occurrence/supply bipartite graphs).
  *
  * Exactness contract (the q38/q71 integer discipline): ranks live in
  * integer MICRO-UNITS and every update is 64-bit integer arithmetic —
  * per-edge contribution is `pr div outdeg` (floor), damping is
  * `(dampNum · Σ) div dampDen` plus the `(10⁶ · (dampDen − dampNum))
  * div (dampDen · N)` teleport term. Floor division is deterministic
  * in both engines (`div` / `//`), so a FIXED iteration count is
  * hash-exact cross-engine — no float mass, no convergence epsilon.
  * (Float PageRank sums are order-dependent; integer sums are not.)
  *
  * Scale shape per iteration: one join of the rank frame with the
  * edge list on src (both hash-partitioned on the same key — AQE
  * reuses the exchange across iterations) and one groupBy(dst) with
  * map-side partial sums — 2 shuffles × `iters`, the
  * [[Clusters.connectedComponents]] cost model with a FIXED round
  * count instead of a structural one. Ranks are one long per node;
  * the total state is O(V), never O(V²).
  *
  * Overflow headroom: per-node rank ≤ 10⁶ micro-units, an in-sum ≤
  * 10⁶·indeg, so `dampNum · Σ` stays under 2⁶³ up to ~10¹¹ in-edges
  * per node — beyond any real graph's hub.
  */
object Graph {

  /** Symmetrize a directed edge list: both directions of every edge,
    * de-duplicated. PageRank over `symmetrize(e)` is undirected
    * centrality. */
  def symmetrize(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
    e.union(e.select(col("dst").as("src"), col("src").as("dst"))).distinct()
  }

  /** Iteration count at or below which [[pageRank]] compiles the whole
    * loop into ONE declarative plan instead of checkpointing per round.
    * Each localCheckpoint is a blocking materialization job (~0.5 s of
    * fixed overhead at bench scale — r11 measured q88 at 2.75 s vs
    * DuckDB's 0.4 s for a 3-round graph); for a handful of rounds the
    * fused plan pays none of that, while CACHED edge/degree frames keep
    * the per-round join inputs from being re-derived (the failure mode
    * that motivated checkpointing in the first place). Past this depth
    * the lineage chain (and Catalyst analysis time) grows enough that
    * the block-checkpointed [[pageRankBlocked]] wins again. */
  val FuseMaxIters = 4

  /** Integer-micro-unit PageRank: `iters` fixed rounds at damping
    * `dampNum/dampDen` over a (src, dst) edge list. Every node present
    * in the edge list participates; on a symmetrized list there are no
    * dangling nodes (every node has out-edges), which is the intended
    * input — pass [[symmetrize]]d edges for undirected graphs.
    * Returns (node_id, pr_micro) for all nodes.
    *
    * Two bit-identical strategies, chosen by depth (GraphSpec runs the
    * differential): iters ≤ [[FuseMaxIters]] → fused single plan over
    * cached inputs; deeper → block-fused rounds with a checkpoint per
    * block. */
  def pageRank(edges: DataFrame, iters: Int,
               dampNum: Int = 85, dampDen: Int = 100): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dampNum >= 0 && dampDen > 0 && dampNum <= dampDen,
      s"damping $dampNum/$dampDen out of [0, 1]")
    if (iters <= FuseMaxIters) pageRankFused(edges, iters, dampNum, dampDen)
    else pageRankBlocked(edges, iters, dampNum, dampDen)
  }

  /** The BLOCK-FUSED strategy behind [[pageRank]] for deep iteration
    * counts: fuse `blockSize`-round BLOCKS of the recurrence into
    * single declarative plans and checkpoint once per block, so a
    * depth-`iters` run pays ⌈iters/B⌉ materialization barriers instead
    * of `iters` (each localCheckpoint is a blocking job with ~0.5 s
    * fixed overhead at bench scale, and the dominant deep-loop cost at
    * sf1 was exactly those barriers). Lineage stays bounded — each
    * block's plan is ≤ B rounds deep over the pinned edge/degree/ranks
    * frames. Without those pins the r10 bench measured the 3-round
    * plan re-deriving the distinct edge list per round — 13× DuckDB.
    * Arithmetic is identical to the fused plan (floor `div`
    * contributions, integer damping + teleport), so blocked == fused
    * bit-for-bit at any depth; `blockSize = 1` is the per-round
    * checkpointed loop (GraphSpec differentials). `private[graft]` so
    * GraphSpec can run it at a depth the dispatcher would fuse. */
  private[graft] def pageRankBlocked(edges: DataFrame, iters: Int,
                                     dampNum: Int, dampDen: Int,
                                     blockSize: Int = FuseMaxIters): DataFrame = {
    require(blockSize >= 1)
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .localCheckpoint()
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg")).localCheckpoint()
    // deg already holds exactly one row per source node — the node set
    // is a projection of it, no second distinct exchange over the edges
    val nodes = deg.select(col("src").as("node_id"))
    val n = deg.count() // one job; N is a scalar in every update term
    require(n > 0, "empty edge list")
    val teleport = (1000000L * (dampDen - dampNum)) / (dampDen * n)
    var pr = nodes.withColumn("pr_micro", lit(1000000L / n)).localCheckpoint()
    var done = 0
    while (done < iters) {
      val rounds = math.min(blockSize, iters - done)
      var cur = pr
      (1 to rounds).foreach { _ =>
        // `div`, not `/`: Column./ is DOUBLE division, and a truncated
        // double quotient can land one off the exact floor for large
        // numerators — `div` is the 64-bit integer floor both engines share
        val contrib = cur.as("p")
          .join(e.as("ed"), col("p.node_id") === col("ed.src"))
          .join(deg.as("dg"), col("ed.src") === col("dg.src"))
          .select(col("ed.dst").as("node_id"),
            expr("p.pr_micro div dg.outdeg").as("contrib"))
          .groupBy("node_id").agg(sum("contrib").as("s"))
        cur = nodes.join(contrib, Seq("node_id"), "left")
          .select(col("node_id"),
            expr(s"${teleport}L + (${dampNum}L * coalesce(s, 0L)) div ${dampDen}L")
              .as("pr_micro"))
      }
      done += rounds
      // Block boundary: pin the block's result, free the previous pin.
      // The FINAL block is pinned too, so the returned ranks no longer
      // reference e/deg and those pins can be freed here (a lazy final
      // block would still read the checkpointed inputs, whose lineage
      // truncation makes unpin-then-recompute unsafe, not merely slow).
      val next = cur.localCheckpoint()
      unpin(pr)
      pr = next
    }
    unpin(e); unpin(deg)
    pr
  }

  /** The fused strategy behind [[pageRank]] for shallow fixed depths:
    * the whole `iters`-round recurrence as ONE Catalyst plan, no
    * per-round checkpoint barriers. The edge and degree frames are
    * `.cache()`d — the first round's scan materializes them, later
    * rounds hit the cache — and every round's frames carry string
    * aliases so the repeated appearance of the same source in one plan
    * can't trip ambiguous-self-join resolution. Arithmetic is
    * identical to the blocked strategy: floor `div` contributions,
    * integer damping + teleport.
    *
    * Cache lifecycle (the r12 leak): CacheManager entries are keyed on
    * the logical plan and held by the SESSION, so with no release path
    * a long-lived session would pin one cached edge+degree pair per
    * DISTINCT input graph forever. An eager materialize-then-unpersist
    * in-call was tried and rejected — it executes the whole fused plan
    * an extra time (+70% on the q88 bench). Instead a one-slot
    * registry scopes the caches ACROSS calls: each fused call releases
    * the previous call's pair unless it is plan-identical
    * (`sameSemantics` — repeated calls over the same input, the bench
    * shape, keep their shared entry). Steady state is at most one live
    * pair per session, the returned frame stays lazy, and a release
    * never affects correctness (an unpersisted input recomputes from
    * lineage). GraphSpec pins the bound. */
  private val liveCaches =
    new java.util.concurrent.atomic.AtomicReference[Seq[DataFrame]](Nil)

  private def pageRankFused(edges: DataFrame, iters: Int,
                            dampNum: Int, dampDen: Int): DataFrame = {
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .cache()
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg")).cache()
    val pair = Seq(e, deg)
    liveCaches.getAndSet(pair)
      .filterNot(prev => pair.exists(_.sameSemantics(prev)))
      .foreach(_.unpersist(blocking = false))
    val nodes = deg.select(col("src").as("node_id"))
    val n = deg.count() // materializes both caches; N is a plan literal
    require(n > 0, "empty edge list")
    val teleport = (1000000L * (dampDen - dampNum)) / (dampDen * n)
    var pr = nodes.withColumn("pr_micro", lit(1000000L / n))
    (1 to iters).foreach { _ =>
      val contrib = pr.as("p")
        .join(e.as("ed"), col("p.node_id") === col("ed.src"))
        .join(deg.as("dg"), col("ed.src") === col("dg.src"))
        .select(col("ed.dst").as("node_id"),
          expr("p.pr_micro div dg.outdeg").as("contrib"))
        .groupBy("node_id").agg(sum("contrib").as("s"))
      pr = nodes.join(contrib, Seq("node_id"), "left")
        .select(col("node_id"),
          expr(s"${teleport}L + (${dampNum}L * coalesce(s, 0L)) div ${dampDen}L")
            .as("pr_micro"))
    }
    pr
  }

  /** Supply-graph centrality report (q88): PageRank over the bipartite
    * part–supplier co-occurrence graph (an edge per DISTINCT
    * (l_partkey, l_suppkey) pair in lineitem, namespaced 2k / 2k+1 so
    * the two key spaces can't collide), top-n nodes by rank. The
    * bipartite hub set — parts sourced everywhere, suppliers stocking
    * everything — is what a real pipeline feeds back as join-skew and
    * sampling-weight hints. */
  def supplyRank(lineitem: DataFrame, iters: Int, topN: Int): DataFrame = {
    val edges = lineitem
      .select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    pageRank(symmetrize(edges), iters)
      .select(col("node_id"),
        when(pmod(col("node_id"), lit(2L)) === 0, lit("part"))
          .otherwise(lit("supplier")).as("kind"),
        expr("node_id div 2").as("key"),
        col("pr_micro"))
      .orderBy(desc("pr_micro"), asc("node_id"))
      .limit(topN)
  }

  /** Personalized PageRank (q184; the random-walk-with-restart form —
    * Page et al. 1999 §6's personalization vector, Jeh & Widom 2003):
    * identical to [[pageRank]] except the teleport mass returns to a
    * SEED set instead of spreading uniformly, so the stationary scores
    * rank every node by proximity to the seeds — the related-item /
    * query-biased-importance readout (a uniform PageRank answers "what
    * is globally central"; this answers "what is central FROM HERE").
    *
    * Exactness: the q88 integer discipline unchanged — seed teleport
    * `(10⁶·(dampDen−dampNum)) div (dampDen·|seeds|)` and damped spread
    * `(dampNum·Σ) div dampDen` are 64-bit floor arithmetic, so a fixed
    * iteration count is hash-exact cross-engine. Non-seed nodes get
    * teleport 0; mass conservation is up to the same floor truncation
    * as q88.
    *
    * Scale shape: [[pageRank]]'s 2 shuffles × iters over cached
    * edge/degree frames (the fused ≤4-round plan); the seed set is a
    * LITERAL in the teleport expression — bounded by the caller's
    * seed count, never a join. */
  def personalizedPageRank(edges: DataFrame, seeds: Seq[Long], iters: Int,
                           dampNum: Long = 85, dampDen: Long = 100): DataFrame = {
    require(seeds.nonEmpty, "personalized PageRank needs at least one seed")
    require(iters >= 1 && dampNum > 0 && dampDen > dampNum)
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg")).cache()
    // outdegree rides the CACHED edge frame (r20, guide §3): the spread
    // join needs (src, dst, outdeg) every round, so joining deg once
    // here removes one shuffle join per iteration; deg itself stays
    // cached for the walkability check and the final densify
    val ewd = e.join(deg, "src").cache()
    // the one-slot cache registry pageRankFused uses: a long-lived
    // session holds at most one cached graph pair, never one per call
    val pair = Seq(ewd, deg)
    liveCaches.getAndSet(pair)
      .filterNot(prev => pair.exists(_.sameSemantics(prev)))
      .foreach(_.unpersist(blocking = false))
    val nodes = deg.select(col("src").as("node_id"))
    // The node universe is sources-with-outdegree (deg's keys). A seed
    // appearing only as an edge DESTINATION is outside it: its teleport
    // mass would silently vanish and the result degenerate to all
    // zeros. Fail fast instead — callers over directed graphs either
    // symmetrize (relatedParts does) or pick walkable seeds. One tiny
    // scan of the seed slice, not a full-graph job.
    val present = nodes.where(col("node_id").isin(seeds: _*))
      .agg(count(lit(1))).head.getLong(0)
    require(present == seeds.distinct.length,
      s"seeds must have out-edges (be walkable): ${seeds.distinct.length - present} " +
        s"of ${seeds.distinct.length} seeds are sinks or absent from the edge list")
    val perSeed = 1000000L * (dampDen - dampNum) / (dampDen * seeds.length)
    val sp = edges.sparkSession
    import sp.implicits._
    // teleport rows as a LITERAL frame (bounded by the seed count): the
    // per-round update is pr(n) = tp(n) + (dampNum·Σc) div dampDen, and
    // unioning the tp rows INTO the contribution aggregate computes it
    // in the one exchange the groupBy already pays — the r19 shape
    // instead LEFT-JOINED the full node universe onto the sums every
    // round (r20, guide §2: the walk state stays SPARSE — support =
    // touched nodes ∪ seeds — until one final densify join; zero-mass
    // rows contribute nothing and sink-destination mass still drops at
    // the densify, exactly where the per-round node join dropped it)
    val seedTp = seeds.distinct.toDF("node_id")
      .select(col("node_id"), lit(0L).as("c"), lit(perSeed).as("tp"))
    var pr: DataFrame = seeds.distinct.toDF("node_id")
      .select(col("node_id"), lit(1000000L / seeds.length).as("pr_micro"))
    (1 to iters).foreach { _ =>
      // frontier pruning (r19): zero-mass nodes contribute 0 to every
      // neighbor sum, so dropping them BEFORE the edge join is exact —
      // and in early rounds the walk is sparse (round 1 joins |seeds|
      // rows, not the node universe), which exploits exactly the
      // personalization-vector locality PPR exists for
      val contrib = pr.where(col("pr_micro") > 0).as("p")
        .join(ewd.as("ed"), col("p.node_id") === col("ed.src"))
        .select(col("ed.dst").as("node_id"),
          expr("p.pr_micro div ed.outdeg").as("c"), lit(0L).as("tp"))
      pr = contrib.unionByName(seedTp)
        .groupBy("node_id")
        .agg((expr(s"(${dampNum}L * sum(c)) div ${dampDen}L") + sum(col("tp")))
          .as("pr_micro"))
    }
    // densify to the documented contract: (node_id, pr_micro) over the
    // full walkable-node universe, zeros included
    nodes.join(pr, Seq("node_id"), "left")
      .select(col("node_id"), coalesce(col("pr_micro"), lit(0L)).as("pr_micro"))
  }

  /** Related-entity discovery off the supply graph (q184): personalized
    * PageRank seeded at ONE part's node over the same bipartite
    * part–supplier co-occurrence graph as [[supplyRank]] — top-n nodes
    * most reachable from that part via shared-supplier walks, the
    * "customers who bought this also touched" readout in supply form.
    * Seeds score highest by construction; the interesting rows are the
    * non-seed neighbors. */
  def relatedParts(lineitem: DataFrame, partKey: Long, iters: Int,
                   topN: Int): DataFrame = {
    val edges = lineitem
      .select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    personalizedPageRank(symmetrize(edges), Seq(partKey * 2), iters)
      .where(col("pr_micro") > 0)
      .select(col("node_id"),
        when(pmod(col("node_id"), lit(2L)) === 0, lit("part"))
          .otherwise(lit("supplier")).as("kind"),
        expr("node_id div 2").as("key"),
        col("pr_micro"))
      .orderBy(desc("pr_micro"), asc("node_id"))
      .limit(topN)
  }

  /** Per-node triangle census + local clustering coefficient over an
    * undirected edge list — the third graph dial beside centrality
    * ([[pageRank]]) and connectivity
    * ([[Clusters.connectedComponents]]): a node whose neighbors
    * interlink (high coefficient) sits in a genuine community, one
    * whose neighbors don't is a pure hub — the distinction that
    * separates boilerplate-star structure from real topical clusters
    * in dup-pair and co-occurrence graphs.
    *
    * Algorithm: DEGREE-ORDERED enumeration (the MapReduce triangle
    * classic — Suri & Vassilvitskii, WWW 2011): orient every edge from
    * its lower (degree, id) endpoint to its higher, enumerate wedges
    * by self-joining oriented edges on their source, close each wedge
    * with one more equi-join. Orientation caps every node's out-degree
    * at O(√m), so wedge volume is O(m^1.5) WORST case — independent of
    * hub degree (the naive neighbor-join explodes quadratically on one
    * hub; this never does). Each triangle is found exactly once.
    *
    * Exactness: ordering key = degree·10¹² + id — one long, exact in
    * any engine (ids below 10¹², degrees below 10⁶ keep it under
    * 2⁶³); the coefficient is integer micro-units
    * `2·tri·10⁶ div (deg·(deg−1))`.
    *
    * Scale shape: 3 hash equi-join/agg exchanges over edge- and
    * wedge-mass frames (degrees, wedge join, closing join) + one
    * node-keyed rollup; state is O(V + E), never adjacency-matrix. */
  def triangles(edges: DataFrame): DataFrame = {
    // normalize: undirected, distinct, no self-loops, a < b
    val e = edges.select(
        least(col("src").cast("long"), col("dst").cast("long")).as("a"),
        greatest(col("src").cast("long"), col("dst").cast("long")).as("b"))
      .where(col("a") < col("b"))
      .distinct()
    val deg = e.select(col("a").as("node")).union(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orientation key: (deg, id) as one exact long
    val keyed = e
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(col("a"), col("b"),
        (col("da") * lit(1000000000000L) + col("a")).as("ka"),
        (col("db") * lit(1000000000000L) + col("b")).as("kb"))
    val oriented = keyed.select(
      when(col("ka") < col("kb"), col("a")).otherwise(col("b")).as("src"),
      when(col("ka") < col("kb"), col("b")).otherwise(col("a")).as("dst"),
      when(col("ka") < col("kb"), col("kb")).otherwise(col("ka")).as("dst_key"))
    val e1 = oriented.select(col("src"), col("dst").as("v"), col("dst_key").as("kv"))
    val e2 = oriented.select(col("src"), col("dst").as("w"), col("dst_key").as("kw"))
    val wedges = e1.join(e2, Seq("src")).where(col("kv") < col("kw"))
    val closing = oriented.select(col("src").as("v"), col("dst").as("w"))
    val tris = wedges.join(closing, Seq("v", "w"))
      .select(col("src").as("x"), col("v").as("y"), col("w").as("z"))
    val perNode = tris.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("deg") >= 2,
          expr("(2 * coalesce(triangles, 0L) * 1000000L) div (deg * (deg - 1))"))
          .otherwise(lit(0L)).as("cc_micro"))
  }

  /** Supplier community census (q176): triangles over the supplier
    * co-occurrence graph — an edge between two suppliers that fill the
    * SAME order at least `minCount` times (the threshold turns a
    * near-complete co-occurrence clique back into structure; raw
    * co-occurrence saturates at any scale, repeated co-occurrence is
    * signal). Top-n suppliers by (triangles, suppkey). */
  /** Thresholded supplier co-occurrence edges: (src < dst) supplier
    * pairs filling the same order at least `minCount` times — the edge
    * builder [[supplierTriangles]] and the q196 neighborhood reports
    * share (one wedge-free equi-join + one count gate). */
  def supplierCoEdges(lineitem: DataFrame, minCount: Long): DataFrame = {
    // One exchange on the order key collects each order's DISTINCT
    // supplier set; the (src < dst) pairs then explode MAP-SIDE from
    // the sorted set — suppliers-per-order is bounded (single digits
    // at any TPC-H scale), so the per-order pair fan-out is tiny. This
    // replaces the previous distinct + self-join wedge (3 corpus-sized
    // exchanges: the (order, supplier) distinct, then BOTH join sides
    // re-hashed on the order key) with groupBy + explode + the final
    // (src, dst) count — 2 exchanges, no join (r19, guide §2.3-2.4).
    // Pair set and counts are identical: sort_array makes src < dst
    // exactly the old a.suppkey < b.suppkey, collect_set dedups
    // exactly the old (orderkey, suppkey) distinct.
    val sets = lineitem.select(col("l_orderkey"), col("l_suppkey"))
      .groupBy("l_orderkey").agg(sort_array(collect_set(col("l_suppkey"))).as("ss"))
    sets.select(explode(flatten(transform(col("ss"), (x, i) =>
        transform(slice(col("ss"), i + lit(2), size(col("ss"))),
          y => struct(x.as("src"), y.as("dst")))))).as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("n"))
      .where(col("n") >= minCount)
      .select("src", "dst")
  }

  def supplierTriangles(lineitem: DataFrame, minCount: Long, topN: Int): DataFrame = {
    val pairs = supplierCoEdges(lineitem, minCount)
    triangles(pairs)
      .select(col("node").as("s_suppkey"), col("deg").as("degree"),
        col("triangles"), col("cc_micro"))
      .orderBy(desc("triangles"), asc("s_suppkey"))
      .limit(topN)
  }

  /** Exact per-depth BFS expansion of every node at once — the
    * neighborhood function N(v, d) computed as iterated bitmap OR
    * (HyperBall's shape — Boldi & Vigna, WebSci 2014 — with EXACT
    * [[graft.functions.Bitmap]] sets where HyperBall plugs in HLL
    * counters; swap the agg for the q140b HLL twin past ~10⁷ nodes and
    * the plan is HyperBall verbatim). Round d: every node ORs its
    * neighbors' round-(d−1) reach sets — ONE join + ONE bitmap-OR
    * aggregate per round, each newly-set bit a pair at distance exactly
    * d. No pair table is ever materialized: the naive SQL needs the
    * V×V min-distance frame (the oracle's recursive CTE states it);
    * this carries O(V) rows of O(V/8)-byte state for log-diameter
    * rounds.
    *
    * Returns (node, depth, newly) for depth 1..maxDepth — newly =
    * |reach_d| − |reach_{d−1}|, the count of nodes FIRST reached at d. */
  private[graft] def neighborhoodLevels(edges: DataFrame, maxDepth: Int): DataFrame = {
    import graft.functions.Bitmap._
    require(maxDepth >= 1, s"maxDepth must be >= 1, got $maxDepth")
    val e = leanCheckpoint(symmetrize(edges))
    var state = leanCheckpoint(
      e.groupBy(col("src").as("node"))
        .agg(bitmapBuild(col("src")).as("reach"))
        .withColumn("card", bitmapCard(col("reach"))))
    val levels = scala.collection.mutable.ListBuffer[DataFrame]()
    for (d <- 1 to maxDepth) {
      // One aggregation per depth (r20, guide §2): the node's own reach
      // set rides the same bitmap-OR as its neighbors' (OR is
      // associative — own ∪ neighbors in one pass), with prev_card as a
      // flagged side value; the r19 shape aggregated the messages then
      // shuffle-joined the state frame back on, one more exchange of
      // the O(V) bitmap state per depth. Every state node appears: its
      // own row always rides the union, so no left-join null case.
      val msgs = e.join(state, e("src") === state("node"))
        .select(col("dst").as("node"), col("reach"),
          lit(null).cast("long").as("prev_card"))
      val next = leanCheckpoint(
        msgs.unionByName(
            state.select(col("node"), col("reach"), col("card").as("prev_card")))
          .groupBy("node")
          .agg(bitmapOr(col("reach")).as("reach"),
            max(col("prev_card")).as("prev_card"))
          .withColumn("card", bitmapCard(col("reach")))
          .withColumn("newly", col("card") - col("prev_card")))
      levels += next.select(col("node"), lit(d).as("depth"), col("newly"))
      state = next.select("node", "reach", "card")
    }
    levels.reduce(_ unionByName _)
  }

  /** Core decomposition by h-index propagation (Montresor, De
    * Pellegrini & Miorandi, "Distributed k-Core Decomposition", IEEE
    * TPDS 2013): every node starts at its degree and repeatedly lowers
    * its coreness estimate to the H-INDEX of its neighbors' estimates
    * (the largest h with ≥ h neighbors at ≥ h); estimates are monotone
    * non-increasing and the fixed point IS the exact core number — the
    * same answer as sequential peeling (GraphSpec runs that
    * differential), reached in O(diameter-ish) rounds instead of
    * O(V) sequential deletions.
    *
    * Shape per round: one join of the estimate frame onto the edges +
    * one groupBy(node) collecting the neighbor estimates (bounded by
    * degree — a hub's list is its adjacency, the same bound any
    * neighborhood algorithm carries) + a codegen'd h-index over the
    * sorted array. Rounds stop at the first fixed point (one count per
    * round, the [[Clusters.connectedComponents]] convergence
    * discipline), capped at `maxRounds` — and THROWING if the cap is
    * hit still unconverged (r17): estimates are upper bounds until the
    * fixed point, so a partial result silently returned as exact would
    * be wrong on exactly the long-path graphs where rounds scale with
    * diameter. Callers with a genuine budget raise maxRounds; nobody
    * gets too-high core numbers labeled exact. Returns (node, core). */
  def coreDecomposition(edges: DataFrame, maxRounds: Int = 50): DataFrame = {
    val e = leanCheckpoint(symmetrize(edges))
    // `pin` is the checkpoint leaf under `c`, freed once the next
    // round's estimates are materialized
    var pin = leanCheckpoint(
      e.groupBy(col("src").as("node")).agg(count(lit(1)).as("core")))
    var c = pin
    val hIndex = {
      val sorted = sort_array(col("cs"), asc = false)
      size(filter(
        zip_with(sorted, sequence(lit(1), size(sorted)), (v, i) => v >= i),
        x => x))
    }
    var round = 0
    var changed = 1L
    while (changed > 0 && round < maxRounds) {
      round += 1
      val msgs = e.join(c, e("dst") === c("node"))
        .select(e("src").as("node"), col("core").as("nc"), lit(false).as("self"))
      // prev rides the checkpointed frame so the convergence count is
      // a column compare on materialized rows, not a join back onto c
      // — one fewer shuffle join per round (r19). r20: the join back
      // onto c is GONE entirely — c's own rows ride the same aggregate
      // as flagged self ballots (collect_list skips the nulled self
      // entries, max(when(self)) recovers prev), so a round is ONE
      // edge join + ONE aggregation, no post-agg shuffle join
      // (guide §2: every node appears in msgs — the symmetrized edge
      // universe IS c's key set — so the union loses nothing).
      // (r20 note: batching TWO h-index refinements per barrier —
      // monotone, so no oscillation — was measured and REJECTED:
      // q207 4.02→4.00 s at sf0.1 (wash) but 7.9→9.4 s at sf1,
      // matched A/Bs. The supplier co-occurrence cores settle in a
      // few rounds at every sf, so the doubled join+collect work per
      // barrier dwarfs the saved barrier.)
      val next = leanCheckpoint(
        msgs.unionByName(
            c.select(col("node"), col("core").as("nc"), lit(true).as("self")))
          .groupBy("node")
          .agg(collect_list(when(!col("self"), col("nc"))).as("cs"),
            max(when(col("self"), col("nc"))).as("prev"))
          .select(col("node"), col("prev"),
            least(col("prev"), hIndex).as("core")))
      changed = next.where(col("core") =!= col("prev")).count()
      unpin(pin)
      pin = next
      c = next.select("node", "core")
    }
    unpin(e)
    if (changed > 0) {
      unpin(pin)
      throw new IllegalStateException(
        s"coreDecomposition did not converge within $maxRounds rounds " +
          s"($changed estimates still falling) — the h-index estimates are " +
          "upper bounds until the fixed point, so returning them would " +
          "overstate core numbers; raise maxRounds")
    }
    c
  }

  /** q207: core-number distribution of the thresholded supplier
    * co-occurrence graph — (core, n_nodes), the graph's density
    * fingerprint (which suppliers sit in how cohesive a nucleus). */
  def supplierCoreCensus(lineitem: DataFrame, minCount: Long): DataFrame =
    coreDecomposition(supplierCoEdges(lineitem, minCount))
      .groupBy("core").agg(count(lit(1)).as("n_nodes"))
      .orderBy("core")

  /** Synchronous label-propagation community detection (Raghavan,
    * Albert & Kumara, Phys. Rev. E 2007) at a FIXED round count — the
    * q88 hash-exact convention: every vertex starts labeled with its
    * own id; each round it adopts its neighbors' most frequent label,
    * ties to the SMALLEST label, all vertices updating simultaneously.
    * Sync + the total (count desc, label asc) tie order makes every
    * round a pure function of the previous labeling — deterministic
    * across engines and partitionings, unlike the async/random-order
    * LPA of the original paper (same fixed-point family, reproducible
    * rounds).
    *
    * This is NOT connected components (the pointer-jumped min-label of
    * Clusters.scala): CC merges everything reachable; LPA finds
    * DENSELY-linked groups inside one component — the community
    * question the graph family (rank, cores, triangles) didn't answer.
    *
    * The vote is SELF-INCLUSIVE (each vertex's own current label
    * counts one ballot beside its neighbors') — the standard "LPA with
    * memory" guard: a pure neighbor vote makes any symmetric pair swap
    * labels every sync round forever (the bipartite oscillation of the
    * original paper), which a fixed round count would freeze mid-swing
    * into singleton communities. With the self ballot the two-node
    * case ties at 1-1 and the min rule settles it permanently.
    *
    * Scale shape per round: one join of the label frame onto the edge
    * list (both partitioned by vertex) + a (vertex, label)-grain count
    * + a per-vertex argmax — the q43/q88 shuffle pair, state O(V).
    * `rounds` plans fuse into one lineage over the CACHED undirected
    * edge frame; no driver-side graph object. */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val dirBoth = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
    // self-loop ballots — see the oscillation note above. (r19 note: a
    // dst-pre-partitioned cache variant measured SLOWER on q218 — the
    // per-round join plans the label side as the build anyway, so the
    // forced repartition only added an exchange.)
    val und = dirBoth
      .union(dirBoth.select(col("src")).distinct()
        .select(col("src"), col("src").as("dst")))
      .persist()
    try {
      var labels = und.select(col("src").as("v")).distinct()
        .withColumn("label", col("v"))
      for (_ <- 1 to rounds) labels = lpaRound(und, labels)
      // materialize before unpersisting the edge cache the plan reads
      labels.localCheckpoint(true)
    } finally { und.unpersist(); () }
  }

  /** One synchronous LPA round: neighbor-ballot count per (vertex,
    * label), then argmax as min over (-count, label) — highest count,
    * ties to the smallest label, identical to max(count, -label) for
    * numeric ids but valid for ANY orderable label type (string vertex
    * keys analyze fine; unary minus on the COUNT is always numeric).
    * Exposed lazily (pre-checkpoint) so plan tests can assert the
    * round's shuffle shape — the checkpointed loop output erases it. */
  private[graft] def lpaRound(und: DataFrame, labels: DataFrame): DataFrame =
    und
      .join(labels, col("dst") === col("v"))
      .groupBy(col("src"), col("label"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("src"))
      .agg(min(struct((-col("cnt")).as("nc"), col("label").as("l")))
        .as("m"))
      .select(col("src").as("v"), col("m.l").as("label"))

  /** Community census over an undirected (src < dst) edge list and its
    * [[labelPropagation]] labeling — per community: member count,
    * internal undirected edge count, degree mass, and the partition's
    * global Newman-Girvan modularity `Q = Σ_c [e_c/m − (d_c/2m)²]`
    * repeated as a report column (double ratios of exact integer
    * counts, rounded 6dp). */
  private[graft] def communityCensus(edges: DataFrame,
      labels: DataFrame): DataFrame = {
    val la = labels.select(col("v").as("src"), col("label").as("lab_a"))
    val lb = labels.select(col("v").as("dst"), col("label").as("lab_b"))

    // ONE labeled-edge pass (r20, guide §2.4): the r19 shape aggregated
    // the checkpointed edge frame three more times after the internal
    // join (global m count, endpoint-union degree pass, degree⋈labels
    // rollup). Each edge instead contributes one degree unit to BOTH
    // endpoints' communities and one internal edge iff they agree, so
    // a single explode+aggregate over the already-labeled edges yields
    // deg_sum and internal_edges together; m_edges is Σdeg_sum/2 (every
    // endpoint is labeled — labels derive from this edge frame — so no
    // contribution is lost) and n_members is a labels-grain count. Same
    // exact longs into the same modularity expression.
    val per0 = edges.join(la, "src").join(lb, "dst")
      .select(explode(array(
        struct(col("lab_a").as("community"),
          (col("lab_a") === col("lab_b")).cast("long").as("internal")),
        struct(col("lab_b").as("community"), lit(0L).as("internal"))))
        .as("c"))
      .groupBy(col("c.community").as("community"))
      .agg(count(lit(1)).as("deg_sum"), sum(col("c.internal")).as("internal_edges"))
    val nMembers = labels.groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_members"))
    val mFrame = per0.agg(expr("sum(deg_sum) div 2").as("m_edges"))

    val per = nMembers.join(per0, Seq("community"), "left")
      .select(col("community"), col("n_members"),
        coalesce(col("internal_edges"), lit(0L)).as("internal_edges"),
        coalesce(col("deg_sum"), lit(0L)).as("deg_sum"))
      .crossJoin(broadcast(mFrame))
    val q = per.agg(
      round(sum(
        col("internal_edges").cast("double") / col("m_edges") -
          (col("deg_sum").cast("double") / (lit(2.0) * col("m_edges"))) *
            (col("deg_sum").cast("double") / (lit(2.0) * col("m_edges")))),
        6).as("modularity"))
    per.crossJoin(broadcast(q))
  }

  /** q196: exact distance distribution of the thresholded supplier
    * co-occurrence graph — ordered (src ≠ dst) pairs by shortest-path
    * length, depths 1..maxDepth. */
  def supplierDistanceDistribution(lineitem: DataFrame, minCount: Long,
      maxDepth: Int): DataFrame =
    neighborhoodLevels(supplierCoEdges(lineitem, minCount), maxDepth)
      .groupBy(col("depth").as("d"))
      .agg(sum("newly").as("n_pairs"))
      .where(col("n_pairs") > 0)
      .orderBy("d")

  /** q196b: exact harmonic centrality (top `topN`) off the same
    * levels — H(v) = Σ_{u≠v} 1/d(v,u), truncated at `maxDepth`, in
    * floor-divided micro-units (1000000 div d per first-reach, summed:
    * exact integers, hash-comparable cross-engine). */
  def supplierHarmonicCentrality(lineitem: DataFrame, minCount: Long,
      maxDepth: Int, topN: Int): DataFrame = {
    val perDepthMicro = (d: Int) => 1000000L / d
    val levels = neighborhoodLevels(supplierCoEdges(lineitem, minCount), maxDepth)
    val factor = (1 to maxDepth).foldLeft(lit(0L)) { (acc, d) =>
      when(col("depth") === d, lit(perDepthMicro(d))).otherwise(acc)
    }
    levels
      .groupBy(col("node").as("s_suppkey"))
      .agg(
        sum("newly").as("n_reached"),
        sum(col("newly") * factor).as("harmonic_micro"))
      .orderBy(desc("harmonic_micro"), asc("s_suppkey"))
      .limit(topN)
  }

  /** q225: HITS hubs-and-authorities (Kleinberg 1999) over a DIRECTED
    * bipartite-ish graph — the ranking question PageRank (q88) does not
    * answer on a two-role graph: on customer→supplier purchase edges,
    * an AUTHORITATIVE supplier is one bought from by customers who buy
    * from many authoritative suppliers (mutual reinforcement), not
    * merely a high-degree one. The q184 PPR face ranks items around a
    * seed; HITS ranks the whole two-role graph globally.
    *
    * Cross-engine exactness (the q88 integer convention): scores live
    * in integer micro-units — h₀ = 10⁶, each half-round sums exact
    * integers and renormalizes by `raw · 10⁶ div max(raw)` (integer
    * division, identical in both engines) — so a fixed round count is
    * bit-reproducible regardless of float summation order. Bounds:
    * raw ≤ max-degree · 10⁶ ≤ ~10¹² at any corpus (renormalized every
    * half-round), never near 2⁶³.
    *
    * Scale shape per round: two equi-join + aggregate pairs on the
    * cached edge frame (vertex-grain exchanges, the LPA/q88 class) plus
    * two broadcast 1-row maxima. Each half-round's score frame (O(V)
    * narrow rows) is EAGERLY checkpointed before the next consumes it —
    * every raw frame is read twice (its own max and the renormalized
    * select) and feeds the next half-round, so a lazy chain re-executes
    * the whole upstream per reference, ~2^(2·iters) edge scans (the
    * first cut measured 22 s at sf0.1 for 2 rounds; checkpointed, the
    * loop touches the edges once per half-round — the
    * [[pageRankBlocked]] discipline). The returned top-n is its own
    * eager checkpoint, so every half-round pin is freed on return. */
  def hitsAuthorities(edges: DataFrame, iters: Int, topN: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = edges.select(col("c"), col("s")).persist()
    val pins = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try {
      val M = lit(1000000L)
      var h: DataFrame = null
      var a: DataFrame = null
      for (it <- 1 to iters) {
        // only the renormalized frames checkpoint (2 barriers/round):
        // a raw frame is referenced twice (its own max + the select) —
        // bounded 2× work inside one half-round, fine; what must NOT
        // happen is the raw chain crossing rounds uncheckpointed
        val araw =
          if (it == 1)
            // h₀ is the constant 10⁶ on every customer, so the first
            // authority half-round is algebraically indegree·10⁶ — a
            // plain degree count, no join against an all-constant
            // score frame (r19; sum of M over the group == M·count)
            e.groupBy(col("s")).agg((count(lit(1)) * M).as("araw"))
          else e.join(h, "c").groupBy(col("s")).agg(sum(col("h")).as("araw"))
        a = araw.crossJoin(broadcast(araw.agg(max(col("araw")).as("amax"))))
          .select(col("s"), expr("araw * 1000000 div amax").as("a"))
          .localCheckpoint(true)
        pins += a
        // the hub half-round only feeds the NEXT round's authorities;
        // the report reads `a` alone, so the last round's h is dead
        // work — skip it (r19)
        if (it < iters) {
          val hraw = e.join(a, "s").groupBy(col("c")).agg(sum(col("a")).as("hraw"))
          h = hraw.crossJoin(broadcast(hraw.agg(max(col("hraw")).as("hmax"))))
            .select(col("c"), expr("hraw * 1000000 div hmax").as("h"))
            .localCheckpoint(true)
          pins += h
        }
      }
      val deg = e.groupBy(col("s")).agg(count(lit(1)).as("n_customers"))
      a.join(deg, "s")
        .select(col("s").as("s_suppkey"), col("a").as("authority_micro"),
          col("n_customers"))
        .orderBy(col("authority_micro").desc, col("s_suppkey"))
        .limit(topN)
        .localCheckpoint(true)
    } finally { e.unpersist(); pins.foreach(unpin) }
  }

  /** [[hitsAuthorities]] on the purchase graph: distinct
    * (o_custkey → l_suppkey) edges from the order/lineitem join. */
  def supplierAuthorities(lineitem: DataFrame, orders: DataFrame,
      iters: Int, topN: Int): DataFrame =
    hitsAuthorities(
      orders.select(col("o_orderkey"), col("o_custkey").as("c"))
        .join(lineitem.select(col("l_orderkey").as("o_orderkey"),
          col("l_suppkey").as("s")), "o_orderkey")
        .select(col("c"), col("s")).distinct(),
      iters, topN)
}
