package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One vertex of a per-cell navigable-small-world graph: the vector,
  * its cell, and its adjacency (vec_ids, sorted — canonical form so
  * builds are bit-reproducible). */
case class NswNode(centroid_id: Long, vec_id: Long,
                   embedding: Array[Float], neighbors: Array[Long])

/** Graph-based ANN — the reference's actual index structure
  * (HNSW.Net, Program.cs:125-204: M=10, dot-product distance,
  * incremental insert), re-expressed for a cluster.
  *
  * The reference's graph is ONE driver-resident object; nothing about
  * a monolithic small-world graph survives 100 TB (every insert walks
  * the whole graph; every search starts at one global entry point; the
  * structure can't shard without cutting edges). The distributed
  * design splits HNSW's two roles:
  *
  *  - **The upper layers' job — coarse routing — goes to the IVF
  *    centroid table.** HNSW's sparse top layers exist to land a query
  *    near its neighborhood in O(log n) hops; a k-centroid argmin over
  *    a broadcast table does the same landing in one codegen'd pass
  *    (and is how this library already routes every other index
  *    family: q12c/q48/q57/q81).
  *  - **The bottom layer's job — fine navigation — stays a true NSW
  *    graph, but PER CELL.** Within a cell (√n expected occupancy,
  *    [[Ivf.splitOversized]] bounds the tail), vectors form a
  *    navigable graph built by the classic incremental-insert rule:
  *    beam-search the partial graph for each new point's `m` nearest,
  *    link bidirectionally, trim every list to `maxM` by distance.
  *    Build is `flatMapGroups` per cell — embarrassingly parallel,
  *    one hash exchange of (cell, vector) rows, local O(n·ef·m·dim)
  *    work, no driver state, no cross-cell edges to cut.
  *
  * Search probes the `nprobe` nearest cells' graphs (partition-pruned
  * when the graph is [[save]]d partitioned by cell), runs an
  * ef-bounded beam walk per cell from the cell's deterministic entry
  * point (lowest vec_id — the first inserted, so it is every cell
  * graph's natural hub), and merges per-cell candidates with the same
  * `(round(score,6) desc, vec_id)` rule as every other search key.
  *
  * Determinism: insert order is vec_id-ascending, every heap orders by
  * (distance, id), neighbor lists are emitted sorted — two builds of
  * the same corpus are bit-identical (NswSpec pins it), so the
  * rows-only driver check plus the recall/exact-mode differentials are
  * stable run to run.
  *
  * Exact-mode property (the spec's strongest check): incremental
  * insert always links each new vertex to at least one predecessor, so
  * every cell graph is CONNECTED; with `ef ≥ cell size` the beam
  * termination rule (`best candidate farther than the worst of a FULL
  * result heap`) can never fire early, the walk visits the whole
  * component, and `nprobe ≥ #cells` makes the union of cells the whole
  * corpus — the search must equal brute force bit for bit. Dirty rows
  * (null / off-dim / null-element embeddings) are dropped by the same
  * assignability rule as every IVF consumer ([[Ivf.assignWithEmbedding]]).
  */
object Nsw {

  /** Negated dot product as the walk's distance (lower = closer), so
    * internal ordering and the emitted score agree: the reference
    * maximizes dot (Program.cs:207-227); all heaps here minimize d. */
  private def dist(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    -acc
  }

  /** Beam search over one cell's adjacency, classic HNSW SEARCH-LAYER:
    * min-heap of frontier candidates, bounded max-heap of results,
    * stop when the nearest frontier point is farther than a full
    * result heap's worst. Returns (dist, localIdx) sorted by
    * (dist, vec_id). Only vertices with localIdx < active participate
    * (the build walks the PARTIAL graph; pass n for a full search).
    *
    * `allowed` is the filtered-search hook (the hnswlib/FAISS
    * IDSelector semantics): a non-matching vertex is still TRAVERSED —
    * pruning it from the frontier would disconnect the walk wherever
    * the predicate is selective — but never enters the result heap, so
    * the ef bound spends entirely on matching results. The default
    * (always true) leaves the unfiltered walk bit-identical. */
  private def beam(q: Array[Float], entry: Int, ef: Int, active: Int,
                   pts: Array[(Long, Array[Float])],
                   adj: Array[mutable.ArrayBuffer[Int]],
                   allowed: Int => Boolean = _ => true): Array[(Double, Int)] = {
    // Orderings by (dist, vec_id): deterministic under distance ties.
    val nearFirst: Ordering[(Double, Int)] =
      Ordering.by { t: (Double, Int) => (-t._1, -pts(t._2)._1) }
    val farFirst: Ordering[(Double, Int)] =
      Ordering.by { t: (Double, Int) => (t._1, pts(t._2)._1) }
    val frontier = mutable.PriorityQueue.empty[(Double, Int)](nearFirst)
    val worst = mutable.PriorityQueue.empty[(Double, Int)](farFirst)
    val visited = new java.util.BitSet(active)
    val d0 = dist(q, pts(entry)._2)
    frontier.enqueue((d0, entry))
    if (allowed(entry)) worst.enqueue((d0, entry))
    visited.set(entry)
    while (frontier.nonEmpty) {
      val (dc, c) = frontier.dequeue()
      if (worst.length >= ef && dc > worst.head._1) {
        frontier.clear()
      } else {
        val nbrs = adj(c)
        var i = 0
        while (i < nbrs.length) {
          val nb = nbrs(i)
          if (nb < active && !visited.get(nb)) {
            visited.set(nb)
            val dn = dist(q, pts(nb)._2)
            if (worst.length < ef) {
              frontier.enqueue((dn, nb))
              if (allowed(nb)) worst.enqueue((dn, nb))
            } else if (dn < worst.head._1 ||
              (dn == worst.head._1 && pts(nb)._1 < pts(worst.head._2)._1)) {
              frontier.enqueue((dn, nb))
              if (allowed(nb)) { worst.dequeue(); worst.enqueue((dn, nb)) }
            }
          }
          i += 1
        }
      }
    }
    worst.dequeueAll.toArray
      .sortBy { case (d, i) => (d, pts(i)._1) }
  }

  /** Incremental NSW construction for one cell's points (pre-sorted by
    * vec_id). Every insert beam-searches the partial graph, links to
    * the `m` nearest, and trims any over-degree neighbor back to
    * `maxM` closest — the degree bound that keeps search O(ef·m).
    * `adjInit` seeds the adjacency of the first `startFrom` points
    * ([[append]]'s resume path); a fresh build passes none and starts
    * inserting at index 1. */
  private def buildCell(cell: Long, pts: Array[(Long, Array[Float])],
                        m: Int, efC: Int, startFrom: Int = 1,
                        adjInit: Array[Array[Int]] = Array.empty): Iterator[NswNode] = {
    val n = pts.length
    val adj = Array.fill(n)(mutable.ArrayBuffer.empty[Int])
    adjInit.iterator.zipWithIndex.foreach { case (ns, i) => adj(i) ++= ns }
    val maxM = m
    def trim(j: Int): Unit = if (adj(j).length > maxM) {
      val kept = adj(j).map(x => ((dist(pts(j)._2, pts(x)._2), pts(x)._1), x))
        .sortBy(_._1).take(maxM).map(_._2)
      adj(j).clear(); adj(j) ++= kept
    }
    var i = math.max(startFrom, 1)
    while (i < n) {
      val found = beam(pts(i)._2, 0, efC, i, pts, adj)
      val links = found.take(m)
      links.foreach { case (_, j) =>
        adj(i) += j; adj(j) += i; trim(j)
      }
      trim(i)
      i += 1
    }
    (0 until n).iterator.map { idx =>
      NswNode(cell, pts(idx)._1, pts(idx)._2,
        adj(idx).map(x => pts(x)._1).sorted.toArray)
    }
  }

  /** Build the per-cell NSW graphs: one hash exchange of
    * (cell, vec_id, embedding), then pure executor-local construction.
    * Returns (centroid_id, vec_id, embedding, neighbors). */
  def build(vectors: DataFrame, step: Int, m: Int = 8, efC: Int = 32): DataFrame =
    buildWith(vectors, Ivf.centroids(vectors, step), m, efC)

  /** [[build]] against a caller-supplied (e.g. frozen) centroid table
    * — the routing layer [[append]] holds fixed across deltas. */
  def buildWith(vectors: DataFrame, cents: DataFrame, m: Int = 8,
                efC: Int = 32): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    Ivf.assignWithEmbedding(vectors, cents)
      .select(col("centroid_id"), col("vec_id"), col("embedding"))
      .as[(Long, Long, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (cell: Long, it: Iterator[(Long, Long, Array[Float])]) =>
        val pts = it.map(t => (t._2, t._3)).toArray.sortBy(_._1)
        buildCell(cell, pts, m, efC)
      }
      .toDF()
  }

  /** [[buildWith]] with ε-band BOUNDARY REPLICATION (the spill trick):
    * per-cell graphs lose true neighbors that land just across a cell
    * border — a query routed to cell A cannot see a near-identical
    * vector assigned to adjacent cell B, which is exactly where
    * nprobe=1 recall sags. The fix replicates each vector whose
    * runner-up cell is within `eps` of its primary
    * (dist2 − dist ≤ eps, rounded l2² — one codegen'd
    * [[Ivf.assignTop2WithEmbedding]] pass) into that runner-up cell as
    * a FULL graph vertex: the neighbor cell's walk can now traverse
    * and return it. Search stays unchanged in shape — replicas surface
    * as duplicate (vec_id, score) candidates, and every search path
    * already collapses those (same embedding, same arithmetic ⇒
    * bit-identical score ⇒ `distinct` is exact, no aggregation
    * needed).
    *
    * Scale: replication factor is 1 + P(margin ≤ eps) ≤ 2 by
    * construction — storage-bounded like every spill/overlap index
    * (canopy clustering, FAISS's multi-assignment); the build stays
    * one hash exchange + per-cell local work, and builds remain
    * bit-reproducible (replicas insert by the same vec_id order). */
  def buildSpilled(vectors: DataFrame, cents: DataFrame, eps: Double,
                   m: Int = 8, efC: Int = 32): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val t2 = Ivf.assignTop2WithEmbedding(vectors, cents)
    val primary = t2.select(col("centroid_id"), col("vec_id"), col("embedding"))
    val spilled = t2
      .where(col("centroid_id2").isNotNull && col("dist2") - col("dist") <= eps)
      .select(col("centroid_id2").as("centroid_id"), col("vec_id"), col("embedding"))
    primary.unionByName(spilled)
      .as[(Long, Long, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (cell: Long, it: Iterator[(Long, Long, Array[Float])]) =>
        val pts = it.map(t => (t._2, t._3)).toArray.sortBy(_._1)
        buildCell(cell, pts, m, efC)
      }
      .toDF()
  }

  /** Data-driven ε for [[buildSpilled]]: the `q`-quantile of the
    * runner-up margins (dist2 − dist) over the assignable corpus —
    * replicating the closest-to-border `q` of vectors, so storage
    * overhead is exactly 1+q regardless of the embedding scale. One
    * zero-shuffle pass + a 1-row exact-percentile aggregate. */
  def spillEps(vectors: DataFrame, cents: DataFrame, q: Double = 0.25): Double =
    Ivf.assignTop2WithEmbedding(vectors, cents)
      .where(col("centroid_id2").isNotNull)
      .agg(expr(s"percentile(dist2 - dist, $q)"))
      .head() match {
        case r if r.isNullAt(0) => 0.0
        case r => r.getDouble(0)
      }

  /** Incremental maintenance — the q55 contract for the graph family
    * (IVF has [[Ivf.append]], PQ has [[Pq.append]]): insert `delta`
    * vectors into an existing graph against FROZEN centroids, touching
    * only the cells that receive deltas. Untouched cells pass through
    * without a shuffle of their payloads (left-anti on the broadcast
    * touched-cell list); touched cells replay the incremental-insert
    * rule on top of their existing adjacency. When delta ids are
    * higher than every base id (the common append pattern — new data
    * gets new ids), the insert order equals a from-scratch build's, so
    * append(base, delta) == build(base ∪ delta) BIT FOR BIT (NswSpec
    * pins it); interleaved ids yield a different — equally valid —
    * navigable graph. */
  def append(graph: DataFrame, cents: DataFrame, delta: DataFrame,
             m: Int = 8, efC: Int = 32): DataFrame = {
    val spark = graph.sparkSession
    import spark.implicits._
    val assigned = Ivf.assignWithEmbedding(delta, cents)
      .select(col("centroid_id"), col("vec_id"), col("embedding"))
      // An id already in the graph is not an append — drop it rather
      // than corrupt the cell's point set (AQE picks the join
      // strategy; both sides grow with SF, so no hint).
      .join(graph.select("vec_id"), Seq("vec_id"), "left_anti")
    val touched = assigned.select("centroid_id").distinct()
    val untouched = graph
      .join(broadcast(touched), Seq("centroid_id"), "left_anti")
      .select(col("centroid_id"), col("vec_id"), col("embedding"), col("neighbors"))
    val rebuilt = graph
      .join(broadcast(touched), Seq("centroid_id"), "left_semi")
      .select(col("centroid_id"), col("vec_id"), col("embedding"), col("neighbors"))
      .as[NswNode]
      .map(n => (n, true))
      .union(assigned
        .withColumn("neighbors", typedlit(Array.empty[Long]))
        .as[NswNode].map(n => (n, false)))
      .groupByKey(_._1.centroid_id)
      .flatMapGroups { (cell: Long, it: Iterator[(NswNode, Boolean)]) =>
        val all = it.toArray
        val olds = all.filter(_._2).map(_._1).sortBy(_.vec_id)
        val pts = all.map(_._1).sortBy(_.vec_id).map(nd => (nd.vec_id, nd.embedding))
        val idOf = pts.iterator.map(_._1).zipWithIndex.toMap
        // Existing adjacency re-indexed against the merged point set.
        val adjInit = Array.fill(pts.length)(Array.empty[Int])
        olds.foreach { nd =>
          adjInit(idOf(nd.vec_id)) = nd.neighbors.flatMap(idOf.get)
        }
        if (olds.length == all.length) {
          // Degenerate: a "touched" cell whose deltas were all dirty
          // duplicates — nothing to insert, emit as-is.
          olds.iterator.map(identity)
        } else if (olds.isEmpty) {
          buildCell(cell, pts, m, efC)
        } else {
          // Deltas sort AFTER base iff their ids are higher; either
          // way the first startFrom indices are exactly the olds only
          // when ids don't interleave. Recompute the resume point as
          // the first index holding a new id.
          val oldIds = olds.map(_.vec_id).toSet
          val firstNew = pts.indexWhere(p => !oldIds.contains(p._1))
          if (pts.drop(firstNew).forall(p => !oldIds.contains(p._1))) {
            buildCell(cell, pts, m, efC, startFrom = firstNew, adjInit = adjInit)
          } else {
            // Interleaved ids: replay the whole cell from scratch in
            // id order (deterministic, self-consistent).
            buildCell(cell, pts, m, efC)
          }
        }
      }
      .toDF()
    untouched.unionByName(rebuilt)
  }

  /** ANN search over a built graph: route to the `nprobe` nearest
    * cells ([[Ivf.probeCells]], the probe [[Ivf.search]] runs), beam-walk
    * each cell's graph from its lowest-id entry, merge with the
    * library's standard (score desc, vec_id) top-k. The per-cell walk
    * runs in `flatMapGroups` after a literal centroid_id filter — only
    * probed cells' rows move, and a [[save]]d graph partition-prunes
    * them at the scan. The 1-row query collect is the bounded class every
    * imperative-kernel op documents (centroids, codebooks, queries). */
  def search(graph: DataFrame, cents: DataFrame, query: DataFrame,
             nprobe: Int, k: Int, ef: Int = 64): DataFrame = {
    val spark = graph.sparkSession
    import spark.implicits._
    val qv: Array[Float] = query.select(col("qv").cast("array<float>"))
      .head().getSeq[Float](0).toArray
    val probed = Ivf.probeCells(cents, Ivf.collectQv(query)._2, _ => nprobe)
    val efEff = math.max(ef, k)
    graph
      .where(col("centroid_id").isin(probed: _*))
      .select(col("centroid_id"), col("vec_id"), col("embedding"), col("neighbors"))
      .as[NswNode]
      .groupByKey(_.centroid_id)
      .flatMapGroups { (_: Long, it: Iterator[NswNode]) =>
        val nodes = it.toArray.sortBy(_.vec_id)
        val pts = nodes.map(nd => (nd.vec_id, nd.embedding))
        val idOf = pts.iterator.map(_._1).zipWithIndex.toMap
        val adj = nodes.map(nd => mutable.ArrayBuffer(
          nd.neighbors.flatMap(idOf.get): _*))
        beam(qv, 0, efEff, pts.length, pts, adj).iterator
          .map { case (d, idx) => (pts(idx)._1, -d) }
      }
      .toDF("vec_id", "raw")
      .select(col("vec_id"), round(col("raw"), 6).as("score"))
      // spill replicas surface as duplicate candidates with
      // bit-identical scores (same embedding, same arithmetic);
      // distinct collapses them exactly — a no-op on unspilled graphs
      .distinct()
      .orderBy(desc("score"), asc("vec_id"))
      .limit(k)
  }

  /** Attribute-filtered graph ANN — the q65 filtered-search contract
    * extended to the NSW family. `allowedIds` is the predicate's id set
    * (a pushed-down filtered scan of the metadata table, column-pruned
    * to vec_id); it tags probed rows via a hash join keyed on vec_id —
    * AFTER the probed-cell filter, so only probed cells' rows join, and
    * with NO broadcast hint: the allowed set grows with SF (the q76
    * discipline — AQE broadcasts at toy scale, shuffles at cluster
    * scale). The walk then runs the IDSelector semantics ([[beam]]'s
    * `allowed` hook): non-matching vertices route, matching vertices
    * score, so selective predicates cannot disconnect the graph.
    * Exact-mode property (NswSpec): ef ≥ cell size + nprobe ≥ #cells ⇒
    * bit-equal to brute-force filtered KNN ([[Knn.topKDotFiltered]]). */
  def searchFiltered(graph: DataFrame, cents: DataFrame, query: DataFrame,
                     allowedIds: DataFrame, nprobe: Int, k: Int,
                     ef: Int = 64): DataFrame = {
    val spark = graph.sparkSession
    import spark.implicits._
    val qv: Array[Float] = query.select(col("qv").cast("array<float>"))
      .head().getSeq[Float](0).toArray
    val probed = Ivf.probeCells(cents, Ivf.collectQv(query)._2, _ => nprobe)
    val efEff = math.max(ef, k)
    graph
      .where(col("centroid_id").isin(probed: _*))
      .join(allowedIds.select(col("vec_id"), lit(true).as("m")),
        Seq("vec_id"), "left")
      .select(col("centroid_id"), col("vec_id"), col("embedding"),
        col("neighbors"), coalesce(col("m"), lit(false)).as("matched"))
      .as[(Long, Long, Array[Float], Array[Long], Boolean)]
      .groupByKey(_._1)
      .flatMapGroups { (_: Long, it: Iterator[(Long, Long, Array[Float], Array[Long], Boolean)]) =>
        val nodes = it.toArray.sortBy(_._2)
        val pts = nodes.map(nd => (nd._2, nd._3))
        val idOf = pts.iterator.map(_._1).zipWithIndex.toMap
        val adj = nodes.map(nd => mutable.ArrayBuffer(nd._4.flatMap(idOf.get): _*))
        val matched = nodes.map(_._5)
        beam(qv, 0, efEff, pts.length, pts, adj, idx => matched(idx)).iterator
          .map { case (d, idx) => (pts(idx)._1, -d) }
      }
      .toDF("vec_id", "raw")
      .select(col("vec_id"), round(col("raw"), 6).as("score"))
      // spill replicas surface as duplicate candidates with
      // bit-identical scores (same embedding, same arithmetic);
      // distinct collapses them exactly — a no-op on unspilled graphs
      .distinct()
      .orderBy(desc("score"), asc("vec_id"))
      .limit(k)
  }

  /** Batched ANN serving over the graph — the cluster shape for
    * offline inference, parity with [[Ivf.searchBatch]] /
    * [[Bq.searchBatch]]: ONE plan answers the whole query table, no
    * per-query driver loop. Queries are a bounded panel (the q67
    * class), so they collect once and ride to the probed cells as a
    * broadcast routing map (cell → queries probing it: the centroid
    * table collects once and each query ranks it with
    * [[Ivf.rankCells]], so it probes exactly the cells [[search]]
    * would); each probed cell walks every query routed to it in one
    * `flatMapGroups` pass over the cell's rows (the graph loads ONCE
    * per cell regardless of how many queries probe it — the batching
    * win), and a GroupedTopK heap takes per-query top-k without a
    * sort. Exact-mode equivalence with per-query [[search]] is pinned
    * by NswSpec. */
  def searchBatch(graph: DataFrame, cents: DataFrame, queries: DataFrame,
                  nprobe: Int, k: Int, ef: Int = 64): DataFrame = {
    val spark = graph.sparkSession
    import spark.implicits._
    val (_, cells) = Ivf.collectProbe(cents)
    // Bounded panel collect (documented class): each query walks as
    // floats, as in search(), and probes with its own values widened
    // to doubles, as search()'s Ivf.collectQv does.
    val qRows = queries.select(col("query_id").cast("long"),
        col("qv").cast("array<float>"), col("qv"))
      .collect()
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray,
        r.getSeq[Any](2).map(Pq.widen).toArray))
      .sortBy(_._1)
    val routing: Map[Long, Array[(Long, Array[Float])]] =
      qRows.toSeq
        .flatMap { case (qid, qf, qd) =>
          Ivf.rankCells(cells, qd, nprobe).map { case (cid, _) => (cid, (qid, qf)) }
        }
        .groupBy(_._1).map { case (c, qs) => c -> qs.map(_._2).sortBy(_._1).toArray }
    val routingB = spark.sparkContext.broadcast(routing)
    val efEff = math.max(ef, k)
    val probedCells = routing.keySet.toSeq.sorted
    val walked = graph
      .where(col("centroid_id").isin(probedCells: _*))
      .select(col("centroid_id"), col("vec_id"), col("embedding"), col("neighbors"))
      .as[NswNode]
      .groupByKey(_.centroid_id)
      .flatMapGroups { (cell: Long, it: Iterator[NswNode]) =>
        val nodes = it.toArray.sortBy(_.vec_id)
        val pts = nodes.map(nd => (nd.vec_id, nd.embedding))
        val idOf = pts.iterator.map(_._1).zipWithIndex.toMap
        val adj = nodes.map(nd => mutable.ArrayBuffer(
          nd.neighbors.flatMap(idOf.get): _*))
        routingB.value.getOrElse(cell, Array.empty).iterator.flatMap {
          case (qid, qv) =>
            beam(qv, 0, efEff, pts.length, pts, adj).iterator
              .map { case (d, idx) => (qid, pts(idx)._1, -d) }
        }
      }
      .toDF("query_id", "vec_id", "raw")
      .select(col("query_id"), col("vec_id"), round(col("raw"), 6).as("score"))
      // spill-replica dedup (see search); exact under bit-identical scores
      .distinct()
    graft.plans.GroupedTopK.topK(walked, Seq(col("query_id")),
        Seq(col("score").desc, col("vec_id").asc), k)
      .orderBy(col("query_id"), col("score").desc, col("vec_id"))
  }

  /** Persist the graph partitioned by cell — probes of a loaded graph
    * prune to nprobe partition directories, the same layout contract
    * as [[Ivf.save]]. */
  def save(graph: DataFrame, path: String): Unit =
    graph.write.mode("overwrite").partitionBy("centroid_id").parquet(path)

  def load(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Graph-health report (the q63 dial for the NSW family): per-cell
    * vertex count, mean/max degree, and isolated-vertex count — degree
    * collapse or isolation means efC/m were sized wrong for the cell's
    * local geometry and recall will sag there. One narrow pass over
    * the graph table + a per-cell partial agg. */
  def health(graph: DataFrame): DataFrame =
    graph
      .select(col("centroid_id"), size(col("neighbors")).as("deg"))
      .groupBy("centroid_id")
      .agg(
        count(lit(1)).as("n_vertices"),
        round(avg("deg"), 2).as("mean_degree"),
        max("deg").as("max_degree"),
        sum(when(col("deg") === 0, 1L).otherwise(0L)).as("n_isolated"))
      .orderBy("centroid_id")
}
