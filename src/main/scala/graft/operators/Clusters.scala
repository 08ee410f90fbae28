package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SqlBridge.{leanCheckpoint, unpin}
import graft.functions.VectorFunctions._

/** Cluster-shaped dedup resolution — the step AFTER candidate-pair
  * generation that every production dedup pipeline needs: near-dup
  * PAIRS (Dedup.minhashLsh et al.) resolved into duplicate CLUSTERS
  * (connected components), and SemDeDup-style semantic pruning
  * (cluster embeddings, drop near-identical members within a cluster).
  *
  * The reference deduplicates nothing (single-corpus demo); these
  * operators are part of the LLM-pipeline surface the brief requires
  * on top of the reference's own (reference Program.cs:125-263 only
  * covers the ANN index the SemDeDup path reuses).
  */
object Clusters {

  /** Connected components over an undirected candidate-pair edge list
    * (columns `a`, `b`) → one row per touched node with its component
    * label (= min node id in the component) and the component size.
    *
    * Algorithm: iterative min-label propagation with a pointer-jump
    * composition. Each round every node takes the minimum of its own
    * label, its neighbors' labels (one equi-join shuffle on node id),
    * and its label's label (one self-join — the pointer jump that
    * short-circuits long chains, turning O(diameter) rounds into
    * ~O(log diameter)). Convergence is checked EXACTLY (any label
    * changed?), so `maxIters` is a guard, never a correctness knob.
    *
    * Scale shape: state is one (node, label) row per node — never an
    * adjacency matrix; every round is two hash-join exchanges over
    * that state, and `localCheckpoint` pins each round's result so
    * lineage (and recomputation) cannot grow with the iteration count.
    * Dup clusters from LSH pairs are near-cliques, so in practice this
    * converges in 2-3 rounds; adversarial long-path graphs are bounded
    * by the pointer jump. Rounds that are no longer reachable (the
    * previous iteration's labels) are unpinned as the loop advances,
    * so executor storage stays O(1) in the round count.
    *
    * Throws if the `maxIters` guard trips before exact convergence —
    * returning silently would hand callers WRONG cluster ids. The
    * pointer jump makes rounds ~log₂(diameter), so 50 covers any graph
    * this side of 2⁵⁰ nodes; hitting the guard means something is
    * broken, not that more rounds were needed.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    // leanCheckpoint, not Dataset.localCheckpoint: the plain checkpoint
    // ATTACHES the input plan's multiplied size estimate to the new
    // leaf, and this loop's self-join (pointer jump) would compound
    // those BigInts geometrically across rounds — planning-time
    // BigInteger.multiply stalls, see SqlBridge
    val p = pairs.select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
    val edges = leanCheckpoint(
      p.union(p.select(col("b").as("a"), col("a").as("b"))).toDF("src", "dst"))
    // `pin` is the checkpoint leaf under `labels`
    var pin = leanCheckpoint(
      edges.select(col("src").as("node")).distinct()
        .withColumn("label", col("node")))
    var labels = pin
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      // carry the pre-round label through the step so convergence is a
      // column compare on the CHECKPOINTED frame, not a join of next
      // against labels — one fewer shuffle join per round (r19).
      // r20 (guide §2): the min-of-neighbors aggregate and the join
      // back onto labels fold into ONE aggregation — each node's own
      // label rides the union as a flagged self ballot (min over
      // own ∪ neighbors ≡ least(own, min-neighbor); max(when(self))
      // recovers prev), so a round is one edge join + one aggregate +
      // the pointer jump. Every labeled node appears: the self row
      // always rides the union, so the old left-join null case is gone.
      val nbrBallots = edges
        .join(labels.withColumnRenamed("node", "dst")
          .withColumnRenamed("label", "dst_label"), "dst")
        .select(col("src").as("node"), col("dst_label").as("l"),
          lit(false).as("self"))
      val stepped = nbrBallots.unionByName(
          labels.select(col("node"), col("label").as("l"), lit(true).as("self")))
        .groupBy("node")
        .agg(min(col("l")).as("label"),
          max(when(col("self"), col("l"))).as("prev"))
        .select(col("node"), col("prev"), col("label"))
      // pointer jump: label(n) <- min(label(n), label(label(n))).
      // (r20 note: batching TWO jumps per checkpoint barrier — label
      // depth ~4×/barrier, half the barriers when rounds > 2 — was
      // measured and REJECTED: q43 3.01→3.32 s at sf0.1 and
      // 8.9→9.8 s at sf1, matched single-key A/Bs. Dup-pair components
      // are near-cliques that converge in 2-3 rounds at every sf, so
      // the extra self-join per round costs more than the barrier it
      // occasionally saves; revisit only for long-path graphs.)
      val next = leanCheckpoint(stepped
        .join(stepped.select(col("node").as("label"), col("label").as("ll")), Seq("label"), "left")
        .select(col("node"), col("prev"),
          least(col("label"), coalesce(col("ll"), col("label"))).as("label")))
      converged = next.where(col("label") =!= col("prev")).isEmpty
      // the previous round's labels are dead past the convergence check
      unpin(pin)
      pin = next
      labels = next.select("node", "label")
      it += 1
    }
    unpin(edges)
    require(converged,
      s"connectedComponents did not converge in $maxIters rounds — " +
        "the result would be incorrect partial labels")
    // rounds-to-convergence is THE q43 scale metric (cost = rounds ×
    // 2 shuffles, not data volume) — surface it for bench/ops logs
    org.slf4j.LoggerFactory.getLogger(getClass)
      .info(s"connectedComponents converged in $it rounds")
    val sizes = labels.groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
      .join(sizes, "cluster_id")
      .select("doc_id", "cluster_id", "cluster_size")
  }

  /** q43: MinHash-LSH candidate pairs resolved into duplicate clusters —
    * the membership table a dedup pass keeps (retain cluster_id ==
    * doc_id, drop the rest). Only docs touched by at least one pair
    * appear; singletons are trivially their own cluster and would bloat
    * the output n-fold. */
  def dupClusters(docs: DataFrame, k: Int, numHashes: Int, rowsPerBand: Int,
                  minEstJaccard: Double): DataFrame =
    connectedComponents(
      Dedup.minhashLsh(docs, k, numHashes, rowsPerBand, minEstJaccard).select("a", "b"))
      .orderBy("doc_id")

  /** q44: SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
    * dedup by clustering embeddings then dropping, within each cluster,
    * every member that has a lower-id near-twin at cosine >= threshold.
    *
    * Spark shape: cluster assignment is the SAME map-only broadcast
    * argmin as the IVF build ([[Ivf]]/[[graft.functions.NearestCentroid]]
    * — zero shuffles, embedding rides along); the pair scan is an
    * equi-join on centroid_id, so comparisons are bounded per cluster
    * (O(Σ|cluster|²), the SemDeDup contract) and never all-pairs.
    * Norms are precomputed per row, not per pair (see
    * [[Dedup.cosinePairs]]).
    *
    * Returns every in-dimension vector with its cluster and a
    * `dropped` flag — the keep-list is `dropped = 0`. */
  def semDedup(vectors: DataFrame, step: Int, threshold: Double): DataFrame =
    semDedupWith(vectors, Ivf.centroids(vectors, step), threshold)

  /** [[semDedup]] with Lloyd-refined centroids — the production
    * default: tighter clusters put true semantic twins in the same
    * cell more often (SemDeDup's recall is bounded by cluster
    * assignment; the paper itself k-means-clusters first). The stride
    * variant stays as the oracle-checkable twin. */
  def semDedupRefined(vectors: DataFrame, step: Int, threshold: Double,
                      iters: Int): DataFrame =
    semDedupWith(vectors,
      Ivf.refineCentroids(vectors, Ivf.centroids(vectors, step), iters), threshold)

  private def semDedupWith(vectors: DataFrame, cents: DataFrame,
                           threshold: Double): DataFrame = {
    val assigned = Ivf.assignWithEmbedding(vectors, cents)
      .select(col("vec_id"), col("centroid_id"), col("embedding"),
        norm(col("embedding")).as("nrm"))
    val l = assigned.select(col("centroid_id"), col("vec_id").as("a"),
      col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val r = assigned.select(col("centroid_id"), col("vec_id").as("b"),
      col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    val dropped = l.join(r, Seq("centroid_id"))
      .where(col("a") < col("b"))
      .withColumn("cos_raw", dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")))
      // two-stage threshold — see Dedup.cosinePairs
      .where(col("cos_raw") >= threshold - 1e-6)
      .where(round(col("cos_raw"), 6) >= threshold)
      .select(col("b").as("vec_id"))
      .distinct()
      .withColumn("is_dropped", lit(1))
    assigned.select(col("vec_id"), col("centroid_id"))
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("centroid_id"),
        coalesce(col("is_dropped"), lit(0)).cast("int").as("dropped"))
      .orderBy("vec_id")
  }

  /** Embedding-space outlier flagging: every vector's L2² distance to
    * its assigned centroid, flagged when it exceeds `factorNum /
    * factorDen` × its cluster's mean distance — the "noisy embedding"
    * pruning gate a training pipeline runs before SemDeDup (mislabeled
    * / OOD / corrupted rows sit far from every centroid). The factor
    * is a RATIONAL, not a double, so the gate stays exact (below); the
    * default 5/4 reflects high-dimensional concentration of measure —
    * on a 64-dim corpus centroid distances bunch so tightly that the
    * intuitive 2× gate never fires (max/mean ≈ 1.27 here); real
    * embedding corpora with genuine corruption show a long tail either
    * way, and the knob is per-deployment.
    *
    * Scale shape: assignment is the zero-shuffle broadcast argmin
    * ([[Ivf.assign]]), whose struct already carries the winning
    * round-6 distance — no join-back, no second distance evaluation
    * (the r10 cut: the former formulation re-joined the k-row centroid
    * table and re-ran l2Sq per row for a value the argmin had already
    * computed); the per-cluster mean is ONE partial-agg exchange of k
    * (sum, count) pairs broadcast back. No pair joins, nothing
    * quadratic, state O(k).
    *
    * Cross-engine exactness: the mean comparison runs in integer
    * micro-units — dist is already rounded to 6 dp, so dist·10⁶ is
    * integer-valued and the flag test `dist_micro · n · factorDen >
    * factorNum · Σdist_micro` is exact 64-bit arithmetic in both
    * engines, immune to double-summation order (the q38 lesson,
    * SURVEY §6). Headroom: dist_micro ≤ ~2.6e8 for unit-box 64-dim
    * vectors, so the products stay under 2⁶³ up to ~10⁹-row clusters. */
  def outliers(vectors: DataFrame, step: Int,
               factorNum: Int = 5, factorDen: Int = 4): DataFrame = {
    val cents = Ivf.centroids(vectors, step)
    // unassignable rows (null argmin) belong to no cluster — same drop
    // assignWithEmbedding applied in the former join formulation
    val withDist = Ivf.assign(vectors, cents)
      .where(col("centroid_id").isNotNull)
      .withColumn("dist_micro", round(col("dist") * 1e6).cast("long"))
    val stats = withDist.groupBy("centroid_id")
      .agg(sum("dist_micro").as("sum_micro"), count(lit(1)).as("n"))
    withDist.join(broadcast(stats), "centroid_id")
      .select(col("vec_id"), col("centroid_id"), col("dist"),
        (col("dist_micro") * col("n") * lit(factorDen.toLong) >
          lit(factorNum.toLong) * col("sum_micro"))
          .cast("int").as("is_outlier"))
      .orderBy("vec_id")
  }

  /** Embedding-space drift report (q119) — the embedding twin of q86's
    * token-distribution drift, the dial that says when a corpus's
    * vector GEOGRAPHY moved (new domain mix, re-embedded model, data
    * bug) and the ANN index family needs re-training. Reference half =
    * even vec_ids, current half = odd; centroids come from stride
    * 2·step, whose rows are all even ids — the cell geography is
    * defined by the REFERENCE half by construction, so drift reads as
    * "where does the current half sit in the reference's map".
    *
    * Per cell: member counts per half, occupancy shares in integer ppm
    * (floor division of exact counts — the domainMix recipe), the
    * share delta, per-half mean assignment distance in integer
    * micro-units (dist is 6-dp-rounded so dist·10⁶ is integer-valued —
    * the q51 recipe; means are floor divisions of non-negative longs,
    * identical in both engines), and an |Δppm| ≥ flagPpm drift flag.
    * Plan: ONE zero-shuffle argmin scan over all vectors (half is a
    * pmod of vec_id in the same pass), one k-cell partial agg, a 1-row
    * totals broadcast — scan-speed at any corpus size, exactly the
    * q63/q86 report class. */
  def embeddingDrift(vectors: DataFrame, step: Int,
                     flagPpm: Long = 2000): DataFrame = {
    val cents = Ivf.centroids(vectors, 2 * step)
    val withHalf = Ivf.assign(vectors, cents)
      .where(col("centroid_id").isNotNull)
      .select(col("centroid_id"),
        pmod(col("vec_id"), lit(2L)).as("half"),
        round(col("dist") * 1e6).cast("long").as("dist_micro"))
    val perCell = withHalf.groupBy("centroid_id").agg(
      sum(when(col("half") === 0, 1L).otherwise(0L)).as("n_ref"),
      sum(when(col("half") === 1, 1L).otherwise(0L)).as("n_cur"),
      sum(when(col("half") === 0, col("dist_micro")).otherwise(0L)).as("s_ref"),
      sum(when(col("half") === 1, col("dist_micro")).otherwise(0L)).as("s_cur"))
    val totals = perCell.agg(
      sum("n_ref").as("tot_ref"), sum("n_cur").as("tot_cur"))
    val shareRef = expr("n_ref * 1000000 div tot_ref")
    val shareCur = expr("n_cur * 1000000 div tot_cur")
    perCell.crossJoin(broadcast(totals))
      .select(
        col("centroid_id"), col("n_ref"), col("n_cur"),
        shareRef.as("share_ref_ppm"),
        shareCur.as("share_cur_ppm"),
        (shareCur - shareRef).as("delta_ppm"),
        when(col("n_ref") > 0, expr("s_ref div n_ref")).otherwise(-1L)
          .as("mean_ref_micro"),
        when(col("n_cur") > 0, expr("s_cur div n_cur")).otherwise(-1L)
          .as("mean_cur_micro"),
        (abs(shareCur - shareRef) >= flagPpm).cast("int").as("drifted"))
      .orderBy("centroid_id")
  }

  /** Effective dimensionality of the embedding space (q170): the
    * participation ratio PR = (tr C)² / tr(C²) of the covariance matrix
    * — the standard eigenvalue-participation diagnostic
    * ((Σλ)²/Σλ², ∈ [1, dim]) computed WITHOUT any eigendecomposition,
    * because both traces are plain sums: tr C = Σ_d Var(d) and
    * tr(C²) = Σ_{d,e} Cov(d,e)². An anisotropy-collapsed collection
    * (all vectors in a narrow cone — the classic contextual-embedding
    * pathology) reads PR ≪ dim; a whitened one reads PR ≈ dim. The
    * dial a vector-index owner checks before trusting cosine
    * distances.
    *
    * Determinism discipline: per-row products quantize to 9-dp
    * micro-units (double-round guard) so the second-moment sums are
    * exact integers in any engine; covariance entries then quantize to
    * 6-dp before the two trace sums (again integers; c6² stays < 2^63
    * at dim 64). Floats appear only in the final divisions.
    *
    * Scale shape: the moment matrix comes from ONE self-equi-join of
    * the (vec_id, d, x) explode on vec_id — shuffle is n·dim rows
    * (the exchange is planned once and reused for both sides), and the
    * (d, e) aggregate is map-side-combined to dim² partials per task.
    * Everything after is a dim²-row frame. Dirty vectors (null, wrong
    * dim, null elements) drop under the same guards as the PQ family. */
  def effectiveDim(vectors: DataFrame, dim: Int = 64): DataFrame = {
    val clean = vectors
      .where(col("embedding").isNotNull && size(col("embedding")) === dim &&
        size(filter(col("embedding"), x => x.isNull)) === 0)
      .select(col("embedding").cast("array<double>").as("e"))
    // ONE native moment pass ([[graft.functions.MomentMatrix]]): the
    // n·dim² products never exist as rows — a tight long-arithmetic
    // buffer per task, one (dim²+dim+1)-long array shipped at the
    // exchange. The self-join and nested-transform formulations both
    // materialized 82 M product rows at sf0.1 and ran 10× slower than
    // DuckDB's vectorized mirror; this one is the map-side-combine
    // shape the mirror effectively uses.
    val m = clean.agg(
      graft.functions.MomentMatrix.momentMatrix(col("e"), dim).as("m"))
    val cells = m.select(posexplode(col("m")).as(Seq("idx", "v")))
    val nRow = cells.where(col("idx") === 0).select(col("v").as("n"))
    val sx = cells.where(col("idx") >= 1 && col("idx") <= dim)
      .select((col("idx") - 1).cast("int").as("d"), col("v").as("sx5"))
    val sxy = cells.where(col("idx") > dim)
      .select(expr(s"(idx - 1 - $dim) div $dim").cast("int").as("da"),
        pmod(col("idx") - 1 - dim, lit(dim)).cast("int").as("db"),
        col("v").as("sxy10"))
    val cde = sxy.crossJoin(broadcast(nRow))
      .join(broadcast(sx.select(col("d").as("da"), col("sx5").as("sxa5"))), "da")
      .join(broadcast(sx.select(col("d").as("db"), col("sx5").as("sxb5"))), "db")
      .select(col("da"), col("db"),
        round(((col("sxy10").cast("double") / 1e10) / col("n") -
          (col("sxa5").cast("double") / 1e5 / col("n")) *
          (col("sxb5").cast("double") / 1e5 / col("n"))) * 1e6, 0)
          .cast("long").as("c6"),
        col("n"))
    cde.agg(
        max(col("n")).as("n_vectors"),
        sum(when(col("da") === col("db"), col("c6")).otherwise(0L)).as("tr6"),
        sum(col("c6") * col("c6")).as("tr2_12"))
      .select(col("n_vectors"), lit(dim).as("dim"),
        round(col("tr6").cast("double") / 1e6, 6).as("total_variance"),
        round((col("tr6").cast("double") / 1e6) * (col("tr6").cast("double") / 1e6) /
          greatest(col("tr2_12").cast("double") / 1e12, lit(1e-12)), 6)
          .as("effective_dim"),
        round((col("tr6").cast("double") / 1e6) * (col("tr6").cast("double") / 1e6) /
          greatest(col("tr2_12").cast("double") / 1e12, lit(1e-12)) / dim, 6)
          .as("effective_dim_ratio"))
  }

  /** q218: embedding-space community detection — a mutual-kNN graph
    * over the corpus's vectors, partitioned by synchronous label
    * propagation ([[Graph.labelPropagation]]), graded against the
    * corpus's own labels. The question SemDeDup (q44) and outliers
    * (q51) don't answer: what are the embedding space's NATURAL groups,
    * without fixing k upfront (k-means needs k; LPA discovers the
    * count) and without a distance threshold (q43's CC merges anything
    * touching; mutual-kNN keeps only RECIPROCATED affinity, the
    * standard sparsification that stops hub vectors bridging unrelated
    * clusters).
    *
    * Per community: size, internal edges, the majority corpus label,
    * purity (majority fraction, integer micro), and global modularity —
    * purity × modularity is the label-agreement audit the q62/q60
    * discipline applies to community structure.
    *
    * Scale shape: this entry point is the EXACT all-pairs scorer —
    * recall-1.0 truth for spec-scale panels and the differential twin
    * the candidate-stream path is pinned against (ClusterSpec). The
    * SHIPPED q218 path is [[embeddingCommunitiesLsh]]: the kNN stage
    * consumes the bounded multi-probe sign-LSH candidate stream
    * (Dedup.lshCandidatesMultiProbe at Dedup.autoPlanes sizing —
    * O(n·(p+1)·occupancy·tables) candidate rows, quasi-linear) instead
    * of this O(n²) cross join. The mutual filter, LPA rounds, and
    * census are identical either way, and THEY are what this operator
    * adds. Per LPA round: the q43/q88 shuffle pair, state O(V). */
  def embeddingCommunities(vectors: DataFrame, k: Int, rounds: Int,
      topN: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val base = vectors.select(col("vec_id"), col("embedding"), col("label"))
    val dir = base.select(col("vec_id").as("a"), col("embedding").as("ea"))
      .crossJoin(broadcast(
        base.select(col("vec_id").as("b"), col("embedding").as("eb"))))
      .where(col("a") =!= col("b"))
      .select(col("a"), col("b"),
        round(cosine(col("ea"), col("eb")), 6).as("sim"))
    communitiesFromDirected(base, dir, k, rounds, topN)
  }

  /** Candidate-stream overload — the 100 TB seam the exact path's
    * scaladoc promises: `candidates` is any undirected bounded
    * near-neighbor pair frame (columns `a`, `b`; a < b by convention —
    * both directions are derived here), e.g. the q15b sign-LSH bucket
    * pairs or IVF cell co-residents. The kNN graph becomes "top-k by
    * exact cosine AMONG the candidates" — recall is the candidate
    * generator's dial (tables/probes/occupancy), exactly the q60/q62
    * discipline — and everything downstream (mutual filter, LPA,
    * census, majority audit) is shared with the exact path. */
  def embeddingCommunities(vectors: DataFrame, candidates: DataFrame,
      k: Int, rounds: Int, topN: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val base = vectors.select(col("vec_id"), col("embedding"), col("label"))
    communitiesFromDirected(base, candidateScores(base, candidates), k,
      rounds, topN)
  }

  /** The shipped q218 path: communities over a multi-probe sign-LSH
    * candidate graph with scale-matched plane count (Dedup.autoPlanes
    * at `targetPerBucket` expected occupancy). One count job sizes the
    * planes; candidate work stays ~n·log n as the corpus grows while
    * the exact twin above is O(n²) by construction. */
  def embeddingCommunitiesLsh(vectors: DataFrame, k: Int, rounds: Int,
      topN: Int, nTables: Int, targetPerBucket: Int,
      dim: Int = 64): DataFrame =
    embeddingCommunities(vectors,
      Dedup.lshCandidatesMultiProbe(vectors,
        Dedup.autoPlanes(vectors, targetPerBucket), nTables, dim),
      k, rounds, topN)

  /** Directed exact-cosine scores over an undirected candidate frame:
    * embeddings join back BY ID (candidates never drag arrays through
    * their generator's shuffles), each pair emitted in both directions
    * so per-source top-k sees every incident candidate. Cosine is
    * symmetric and both engines sum by index, so the two directions
    * carry the bitwise-identical rounded score. */
  private[graft] def candidateScores(vectors: DataFrame,
      candidates: DataFrame): DataFrame = {
    val und = candidates.select(col("a"), col("b"))
    val e = vectors.select(col("vec_id"), col("embedding"))
    // Score each UNDIRECTED pair once, then explode both directions
    // map-side (r20, guide §2/§4): the r19 shape doubled the pairs
    // BEFORE the embedding joins, so every pair paid two array-carrying
    // join rows and two cosine kernels for one bitwise-identical
    // rounded score. Same output multiset — cosine is symmetric and
    // both engines sum by index, the invariant this function already
    // promised its consumers.
    und
      .join(e.select(col("vec_id").as("a"), col("embedding").as("ea")), "a")
      .join(e.select(col("vec_id").as("b"), col("embedding").as("eb")), "b")
      .select(col("a"), col("b"),
        round(cosine(col("ea"), col("eb")), 6).as("sim"))
      .select(explode(array(
        struct(col("a").as("s"), col("b").as("d")),
        struct(col("b").as("s"), col("a").as("d")))).as("p"), col("sim"))
      .select(col("p.s").as("a"), col("p.d").as("b"), col("sim"))
  }

  /** Per-source top-k over a directed scored frame — the bounded-heap
    * GroupedTopK plan (partial+final, no global sort), `(sim desc,
    * b asc)` tie-break so both engines rank identically at 6 dp. */
  private[graft] def directedKnn(dir: DataFrame, k: Int): DataFrame =
    graft.plans.GroupedTopK.topK(dir, Seq(col("a")),
        Seq(col("sim").desc, col("b").asc), k)
      .select("a", "b")

  private def communitiesFromDirected(base: DataFrame, dir: DataFrame,
      k: Int, rounds: Int, topN: Int): DataFrame = {
    // The mutual filter reads the directed kNN frame TWICE (both join
    // sides) and the census reads the edge frame three more times —
    // without materialization the scorer would re-run for every
    // consumer. The kNN frame is cached only while the (small,
    // O(k·n)-row) mutual edge list is eagerly checkpointed; everything
    // downstream reads the checkpointed edges, so the returned plan is
    // self-contained and the scorer runs exactly once.
    val knn = directedKnn(dir, k).persist()
    val mutual = try {
      knn.as("x").join(knn.as("y"),
          col("x.a") === col("y.b") && col("x.b") === col("y.a"))
        .where(col("x.a") < col("x.b"))
        .select(col("x.a").as("src"), col("x.b").as("dst"))
        .localCheckpoint(true)
    } finally { knn.unpersist(); () }

    val labels = Graph.labelPropagation(mutual, rounds)
    val census = Graph.communityCensus(mutual, labels)

    // majority corpus label per community: (count desc, label asc)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("community")
      .orderBy(col("n_lab").desc, col("lab"))
    val majority = labels
      .join(base.select(col("vec_id").as("v"), col("label").as("lab")), "v")
      .groupBy(col("label").as("community"), col("lab"))
      .agg(count(lit(1)).as("n_lab"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("community"), col("lab").as("majority_label"),
        col("n_lab").as("n_majority"))

    census.join(majority, "community")
      .select(col("community"), col("n_members"), col("internal_edges"),
        col("majority_label"),
        expr("n_majority * 1000000 div n_members").as("purity_micro"),
        col("modularity"))
      .orderBy(col("n_members").desc, col("community"))
      .limit(topN)
  }
}
