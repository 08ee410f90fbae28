package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._
import graft.functions.{CentroidSet, NearestCentroid, VecUtil}
import org.apache.spark.sql.graftbridge.SqlBridge

/** IVF (inverted-file) approximate-nearest-neighbor index — the
  * cluster-shaped re-expression of the reference's HNSW build/save/load/
  * search (reference Program.cs:125-263).
  *
  * An HNSW graph is a single in-memory pointer structure fed by a
  * driver-side ConcurrentBag (Program.cs:26) — it caps at driver RAM and
  * cannot be built distributed. The Spark-native equivalent capability
  * (approximate top-k with tunable recall) is IVF:
  *
  *  - build: assign every vector to its nearest centroid — a single
  *    narrow codegen'd argmin over a broadcast centroid set
  *    ([[graft.functions.NearestCentroid]]), zero shuffles;
  *  - persist: posting lists written as parquet PARTITIONED BY centroid_id
  *    (the on-disk index; Program.cs:231-244's SerializeGraph);
  *  - load: the partitioned postings over one driver-side listing
  *    (no listing job), and the k-row centroid table collected once
  *    into a local relation (Program.cs:246-263's DeserializeGraph);
  *  - search: rank the centroids against the query on the driver
  *    ([[probeCells]], run when `search` is called; no job over a
  *    [[load]]ed table), then exact-rerank only the postings under the
  *    nprobe nearest — a literal `centroid_id IN (...)` filter, so
  *    static partition pruning turns the 100 TB scan into an nprobe/k
  *    fraction of it. A literal query over a loaded index runs one job.
  *
  * Centroid selection is deterministic (every `step`-th vector) so the
  * whole pipeline is oracle-checkable; swapping in Lloyd-iteration
  * refinement (a groupBy-avg loop over the same assignment op) changes
  * recall, not plan shape.
  */
object Ivf {

  /** Deterministic centroids: vectors with vec_id % step == 0;
    * centroid_id = vec_id / step. */
  def centroids(vectors: DataFrame, step: Int): DataFrame =
    vectors.filter(pmod(col("vec_id"), lit(step.toLong)) === 0)
      .select((col("vec_id") / step).cast("long").as("centroid_id"),
        col("embedding").as("c_emb"))

  /** Collect a centroid frame to a broadcast-ready [[CentroidSet]].
    * Centroids are k ≪ n by construction (the reference's HNSW graph is
    * likewise driver-resident, Program.cs:125-204); collecting them is
    * the standard distributed-k-means shape. Float components widen to
    * double here, once, instead of per comparison. */
  def collectCentroids(cents: DataFrame): CentroidSet = {
    val rows = cents
      .select(col("centroid_id").cast("long"), col("c_emb"))
      .collect()
      // a whole-null embedding (or null id) is no centroid at all —
      // drop the row rather than NPE the driver. A null-ELEMENT row
      // would widen to NaN components and never win any argmin (the
      // kernel's acc<=bound test fails on NaN) — dead broadcast weight;
      // dropping it here matches the oracles' cleanEmb guard exactly.
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1) &&
        !r.getSeq[Any](1).contains(null))
      .sortBy(_.getLong(0))
    CentroidSet(rows.map(_.getLong(0)), rows.map(_.getSeq[Any](1).map(Pq.widen).toArray))
  }

  /** Map-only argmin column over a broadcast centroid set: returns
    * struct(centroid_id, dist) — see [[NearestCentroid]] for the exact
    * tie-break/rounding contract (identical to the former
    * `min(struct(round(l2sq), centroid_id))` join formulation, so
    * oracle hashes are unchanged). */
  private def nearest(vectors: DataFrame, cs: CentroidSet) =
    SqlBridge.column(NearestCentroid(
      SqlBridge.expression(col("embedding")),
      vectors.sparkSession.sparkContext.broadcast(cs)))

  /** Modal (most common) length of collected vectors, 0 for none — the
    * dimension assignable embeddings must have, and the one
    * [[Pq.codebooks]] slices. Majority vote with a smallest-dim
    * tie-break, NOT `head`: a single off-dim first row must not
    * redefine the set's dimension. */
  private[operators] def modalDim(vs: Array[Array[Double]]): Int =
    if (vs.isEmpty) 0
    else vs.groupBy(_.length).maxBy { case (len, g) => (g.length, -len) }._1

  /** Pre-filter for "assignable" rows, as a predicate on the RAW
    * embedding column (null / off-dimension rows can never win the
    * argmin). Filtering on the PROJECTED argmin instead (isNotNull of
    * the NearestCentroid output) is the double-eval trap: Catalyst
    * pushes the deterministic predicate back through the Project and
    * the full k-centroid argmin runs twice per row. A raw-column
    * predicate costs one size() check and pushes harmlessly to the
    * scan. Rows with null ELEMENTS inside a well-dimensioned embedding
    * produce a null argmin (NaN distance never wins), so they are
    * dropped here too — [[Pq.cleanVec]]'s array_compact check, mirrored
    * by the oracles' list_filter null-element guard; without it the
    * null centroid_id would flow to [[assignWithEmbedding]] consumers
    * as a phantom null cluster. */
  private def assignable(dim: Int) =
    Pq.cleanVec(col("embedding"), dim)

  /** Nearest-centroid assignment — one narrow pass, ZERO shuffles.
    *
    * The round-2 formulation (crossJoin(broadcast(cents)) →
    * min(struct)) still paid a full groupBy(vec_id) exchange of n rows
    * to collapse each vector's k candidates. At 100 TB that exchange IS
    * the job; folding the whole argmin into one codegen'd expression
    * over the broadcast centroids makes assignment scan-speed. */
  def assign(vectors: DataFrame, cents: DataFrame): DataFrame =
    vectors
      .select(col("vec_id"), nearest(vectors, collectCentroids(cents)).as("dc"))
      .select(col("vec_id"), col("dc.centroid_id").as("centroid_id"),
        col("dc.dist").as("dist"))

  /** Build the assignment table (q09). */
  def build(vectors: DataFrame, step: Int): DataFrame =
    assign(vectors, centroids(vectors, step)).orderBy("vec_id")

  /** IVF-routed candidate pairs: co-residents of one cell, `(a, b)`
    * with a < b — the cell-bucketed candidate generator the SemDeDup
    * path (q44) and the leakage-safe split (q203) already cluster
    * through, exposed as a pair STREAM so the q218 communities
    * overload ([[Clusters.embeddingCommunities]]'s candidates seam)
    * can route through IVF cells instead of (or beside) the sign-LSH
    * tables — one shared assignment pass feeds all three consumers.
    *
    * Scale shape: the zero-shuffle argmin assignment, then one
    * equi-join on centroid_id — pair work is Σ|cell|² bounded by the
    * step-sized cell occupancy (the q63 balance dial watches it), vs
    * n² unbucketed. Recall trade vs multi-probe LSH: a true neighbor
    * straddling a cell boundary is missed (the q156/Nsw boundary
    * class); nprobe-style recall comes from the LSH generator or the
    * top-2 assignment ([[assignTop2WithEmbedding]]). */
  def cellCandidatePairs(vectors: DataFrame, step: Int): DataFrame = {
    val assigned = assign(vectors, centroids(vectors, step))
      .select(col("centroid_id").as("c"), col("vec_id"))
    assigned.select(col("c"), col("vec_id").as("a"))
      .join(assigned.select(col("c"), col("vec_id").as("b")), "c")
      .where(col("a") < col("b"))
      .select("a", "b")
  }

  /** Assignment with the embedding riding the same narrow pass (zero
    * shuffles, no join-back) — for consumers that need
    * (vec_id, centroid_id, embedding) downstream: SemDeDup
    * ([[Clusters.semDedup]]) and any clustering-then-X pipeline.
    * Unassignable rows (null / off-dim / null-element embeddings →
    * null argmin) are dropped; they belong to no cluster. */
  def assignWithEmbedding(vectors: DataFrame, cents: DataFrame): DataFrame = {
    val cs = collectCentroids(cents)
    vectors
      .where(assignable(modalDim(cs.mat)))
      .select(col("vec_id"), col("embedding"),
        nearest(vectors, cs).getField("centroid_id").as("centroid_id"))
  }

  /** [[assignWithEmbedding]] with the RUNNER-UP cell riding the same
    * narrow pass — (vec_id, embedding, centroid_id, dist, centroid_id2,
    * dist2), the last two null when only one centroid matches. The
    * boundary-band signal (dist2 − dist) feeds
    * [[Nsw.buildSpilled]]-style replication; the primary assignment is
    * argmin-identical to [[assignWithEmbedding]] by construction
    * ([[graft.functions.VecUtil.top2Centroids]]). Zero shuffles. */
  def assignTop2WithEmbedding(vectors: DataFrame, cents: DataFrame): DataFrame = {
    val cs = collectCentroids(cents)
    val t2 = SqlBridge.column(graft.functions.Nearest2Centroids(
      SqlBridge.expression(col("embedding")),
      vectors.sparkSession.sparkContext.broadcast(cs)))
    vectors
      .where(assignable(modalDim(cs.mat)))
      .select(col("vec_id"), col("embedding"), t2.as("t2"))
      .select(col("vec_id"), col("embedding"),
        col("t2.centroid_id").as("centroid_id"), col("t2.dist").as("dist"),
        col("t2.centroid_id2").as("centroid_id2"), col("t2.dist2").as("dist2"))
  }

  /** √n centroid policy: stride giving k = n/step ≈ √n centroids —
    * the balance point where (vectors × centroids) assignment work and
    * per-bucket rerank size both grow as n^1.5 instead of one of them
    * going quadratic. The oracle-pinned query keys use the fixed
    * Params.IvfStep so DuckDB can mirror them; production builds at
    * unknown scale should use this. */
  def autoStep(vectors: DataFrame): Int =
    math.max(1, math.round(math.sqrt(vectors.count().toDouble)).toInt)

  /** [[build]] with the √n policy. */
  def buildAuto(vectors: DataFrame): DataFrame = build(vectors, autoStep(vectors))

  /** Lloyd k-means refinement of an initial centroid set: `iters` rounds
    * of nearest-centroid assignment followed by per-centroid mean.
    *
    * Scale shape per round: assignment is the same map-only broadcast
    * join as [[assign]]; the mean is a posexplode to (centroid, dim)
    * keys with map-side partial aggregation, so the exchange carries at
    * most partitions × k × d partial states — never n × d rows. Clusters
    * that lose every vector drop out (standard empty-cluster handling),
    * so the result may have fewer centroids than the input. */
  def refineCentroids(vectors: DataFrame, init: DataFrame, iters: Int): DataFrame = {
    var cents = init
    for (_ <- 0 until iters) {
      // Assignment is a narrow expression, so the embedding rides along
      // in the same pass — no join-back (the round-2 formulation paid
      // one exchange for the argmin plus one for this join, per round).
      // Unassignable rows (null / off-dim / null-element embeddings)
      // are filtered on the RAW column (see [[assignable]]; an
      // isNotNull filter on the projected argmin would re-run the
      // whole argmin per row).
      val cs = collectCentroids(cents)
      val assigned = vectors
        .where(assignable(modalDim(cs.mat)))
        .select(
          nearest(vectors, cs).getField("centroid_id").as("centroid_id"),
          col("embedding"))
      cents = assigned
        .select(col("centroid_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("centroid_id", "pos").agg(avg("v").as("m"))
        .groupBy("centroid_id")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("centroid_id"),
          transform(col("pm"), _.getField("m").cast("float")).as("c_emb"))
    }
    cents
  }

  /** Persist the index: posting lists partitioned by centroid_id +
    * a centroids table (the serialized "graph"). */
  def save(vectors: DataFrame, step: Int, path: String): Unit = {
    saveCounted(vectors, step, path); ()
  }

  /** [[save]] returning (rows written to postings, rows written to the
    * centroids table) — counted by an [[org.apache.spark.sql.Observation]]
    * ON the write jobs themselves, so lifecycle reports (q151's
    * [[IndexSync.syncReport]]) get the manifest-style row counts every
    * lake format records at commit time for free, instead of re-reading
    * the freshly written index with two count() jobs per report (r20,
    * guide §6: fewer jobs). */
  def saveCounted(vectors: DataFrame, step: Int, path: String): (Long, Long) = {
    val cents = centroids(vectors, step)
    val obsC = new org.apache.spark.sql.Observation()
    // scan → map (argmin) → repartition(centroid_id) → write: EXACTLY
    // one shuffle, and it is the one the layout requires. The embedding
    // rides the same narrow pass (no join-back).
    val nPost = writeCells(vectors
      .select(col("vec_id"), col("embedding"),
        nearest(vectors, collectCentroids(cents)).getField("centroid_id").as("centroid_id")),
      "overwrite", s"$path/postings")
    cents.observe(obsC, count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(s"$path/centroids")
    (nPost, obsC.get("n").asInstanceOf[Long])
  }

  /** Write rows carrying a `centroid_id` to `dir`, partitioned by
    * centroid_id, and return the row count observed on the write job —
    * the one cell writer of the IVF family: [[save]]/[[append]]'s
    * postings and [[Pq.save]]/[[Pq.append]]'s codes. Rows are
    * hash-clustered by centroid first, so each cell is written by
    * exactly one task, as one file: without it every task writes a
    * sliver into every cell dir — tasks × cells small files (the
    * classic partitionBy anti-pattern). The clustering width is
    * explicit — the session's `spark.sql.shuffle.partitions`, where an
    * unhinted `repartition` starts — because AQE coalesces by bytes
    * while a partitioned write costs per file: a few hundred KB of
    * delta would collapse into one task that writes every touched
    * cell's file in turn. */
  private[operators] def writeCells(assigned: DataFrame, mode: String, dir: String): Long = {
    val obs = new org.apache.spark.sql.Observation()
    val width = assigned.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    assigned
      .repartition(width, col("centroid_id"))
      .observe(obs, count(lit(1)).as("n"))
      .write.mode(mode).partitionBy("centroid_id").parquet(dir)
    obs.get("n").asInstanceOf[Long]
  }

  /** Load a persisted index: (postings, centroids).
    *
    * The postings are the partitioned parquet layout, listed by one
    * driver-side call ([[SqlBridge.listedParquet]]) instead of Spark's
    * listing job, which fires once the layout has more than 32 cell
    * directories. Partition inference, the column types and static
    * pruning on centroid_id are Spark's, as for `spark.read.parquet`.
    *
    * The centroid table (k ≪ n rows, the reference's driver-resident
    * graph) is collected once, here, into a local relation: every
    * search ranks it on the driver anyway, so [[probeCells]],
    * [[collectCentroids]] and the `k` overloads' row count then run no
    * job. Rows and schema equal the parquet read's. */
  def load(spark: SparkSession, path: String): (DataFrame, DataFrame) =
    (loadPostings(spark, path), loadCentroids(spark, path))

  private def loadPostings(spark: SparkSession, path: String): DataFrame =
    SqlBridge.listedParquet(spark, s"$path/postings")

  /** The centroid table of [[load]] alone: reads no postings. */
  private[graft] def loadCentroids(spark: SparkSession, path: String): DataFrame = {
    val c = spark.read.parquet(s"$path/centroids")
    spark.createDataFrame(java.util.Arrays.asList(c.collect(): _*), c.schema)
  }

  /** Incremental index maintenance (q55): assign a DELTA batch against
    * an EXISTING index's centroid set and return the merged assignment
    * table. The reference rebuilds its HNSW graph from scratch per batch
    * (Program.cs:125-204 — in-memory graphs don't upsert); the IVF
    * layout absorbs new vectors with ONE narrow argmin pass over the
    * delta, because centroids are frozen at build time (the standard
    * IVF contract: recall drifts as the corpus drifts, until a periodic
    * re-train — which is [[refineCentroids]]).
    *
    * Scale shape: base rows are NOT re-assigned (their codes are
    * already in the index; here the base side re-derives them only
    * because the inline oracle key needs the full merged table) — the
    * delta-side work is proportional to the DELTA, the plan stays
    * zero-shuffle, and `is_new` rides the union for audit. */
  def mergeAssign(base: DataFrame, delta: DataFrame, step: Int): DataFrame = {
    val cs = collectCentroids(centroids(base, step))
    val all = base.select(col("vec_id"), col("embedding"), lit(false).as("is_new"))
      .unionByName(delta.select(col("vec_id"), col("embedding"), lit(true).as("is_new")))
    all
      .select(col("vec_id"), nearest(all, cs).as("dc"), col("is_new"))
      .select(col("vec_id"), col("dc.centroid_id").as("centroid_id"),
        col("dc.dist").as("dist"), col("is_new"))
      .orderBy("vec_id")
  }

  /** Persisted-index twin of [[mergeAssign]]: append a delta batch to
    * an index on disk. Assignment runs against the index's own saved
    * centroids table; the append adds new files under the existing
    * centroid_id partition dirs (parquet partition append — no rewrite
    * of resident postings, the layout readers/searchers already use).
    * Unassignable delta rows (null/off-dim/null-element embeddings)
    * are dropped on the RAW column, same contract as
    * [[assignWithEmbedding]].
    *
    * DISJOINTNESS CONTRACT: this is an APPEND, not an upsert — a delta
    * vec_id already resident in the index gets a second posting (both
    * will surface in searches). Callers own id disjointness, exactly as
    * with any parquet partition append; a dedup pass would force a full
    * anti-join scan of the resident postings per batch, turning O(delta)
    * maintenance into O(index) — the wrong default at 100 TB, where
    * ingest ids are disjoint by construction (new crawl shards). To
    * reconcile after an overlapping append, rebuild with [[save]] or
    * dedup postings on vec_id. */
  def append(spark: SparkSession, path: String, delta: DataFrame): Unit =
    appendWith(collectCentroids(loadCentroids(spark, path)), path, delta)

  /** [[append]] against an ALREADY-collected frozen centroid set — the
    * per-batch body for callers that amortize the centroid load over
    * many deltas (the streaming ingest twin,
    * [[graft.streaming.IndexIngest]], collects once at stream start;
    * re-reading the centroids table per micro-batch would add a
    * driver-side read to every trigger for a model that is frozen by
    * contract). */
  def appendWith(cs: graft.functions.CentroidSet, path: String, delta: DataFrame): Unit = {
    appendWithCounted(cs, path, delta); ()
  }

  /** [[appendWith]] returning the number of posting rows appended —
    * observed on the write job itself (the [[saveCounted]] convention),
    * so incremental syncs can fold exact counts forward instead of
    * re-scanning the whole postings store per report. Each touched cell
    * gets one new file, written by one of `spark.sql.shuffle.partitions`
    * tasks ([[writeCells]]): AQE would coalesce a small delta by bytes
    * into one task, but a partitioned write costs per file. */
  def appendWithCounted(cs: graft.functions.CentroidSet, path: String,
                        delta: DataFrame): Long =
    writeCells(delta
      .where(assignable(modalDim(cs.mat)))
      .select(col("vec_id"), col("embedding"),
        nearest(delta, cs).getField("centroid_id").as("centroid_id")),
      "append", s"$path/postings")

  /** ANN search: probe the `nprobe` nearest centroids to the query, exact
    * dot-product rerank within probed buckets only. `query` is a 1-row
    * frame with column `qv`. The probe ([[probeCells]]) runs on the
    * driver when `search` is called — one job collecting the centroid
    * table — and the returned plan reads only the probed cells:
    * `centroid_id IN (...)` over literal ids, static partition pruning
    * on a [[load]]ed index. */
  def search(postings: DataFrame, cents: DataFrame, query: DataFrame,
             nprobe: Int, k: Int): DataFrame =
    searchProbed(postings, cents, query, _ => nprobe, k)

  private def searchProbed(postings: DataFrame, cents: DataFrame, query: DataFrame,
                           nprobe: Long => Int, k: Int): DataFrame = {
    val (qv, q) = collectQv(query)
    // Over [[inlinePostings]] the filter is pushed below the Project
    // that computes centroid_id; the select below keeps no centroid_id,
    // so column pruning drops the Project's copy and the argmin still
    // runs once per row (PlanSpec guards this).
    postings
      .where(col("centroid_id").isin(probeCells(cents, q, nprobe): _*))
      .select(col("vec_id"), round(dot(col("embedding"), qv), 6).as("score"))
      .orderBy(desc("score"), asc("vec_id"))
      .limit(k)
  }

  /** A query frame's `qv`, collected on the driver (a literal frame
    * collects without a job): as a literal of the frame's own type —
    * null elements kept, so scoring against it is bit-identical to
    * scoring against the frame — and widened to doubles for
    * [[probeCells]]. An empty frame or a null vector gives a null
    * literal and no vector, so nothing is probed. */
  private[graft] def collectQv(query: DataFrame): (Column, Option[Array[Double]]) = {
    val qf = query.select(col("qv"))
    val v = qf.collect() match {
      case Array() => null
      case Array(row) => row.get(0)
      case rows => throw new IllegalArgumentException(
        s"query must be at most 1 row, got ${rows.length}")
    }
    (SqlBridge.column(Literal.create(v, qf.schema.head.dataType)),
      Option(v).map(_.asInstanceOf[scala.collection.Seq[Any]].map(Pq.widen).toArray))
  }

  /** The cells a single-query search probes: the `nprobe` centroids
    * nearest `q` ([[rankCells]] over [[collectProbe]]) — shared by
    * [[search]], [[Pq.searchAdcCells]] and
    * [[Nsw.search]]/[[Nsw.searchFiltered]]; [[Pq.searchAdcCellsBatch]],
    * [[Pq.searchResidualCells]] and [[Nsw.searchBatch]] rank through
    * the same [[rankCells]]. Callers filter by the returned literal
    * ids, which the planner prunes statically.
    * (A probe subquery would leave pruning to DPP, which does not fire
    * for a literal query frame, so every cell would be read.)
    * `q = None` (null query) probes nothing. `nprobe` maps the table's
    * row count — dirty and null-id rows included, what `cents.count()`
    * returns — to the probe budget. */
  private[graft] def probeCells(cents: DataFrame, q: Option[Array[Double]],
                                nprobe: Long => Int): Seq[Long] = {
    val (n, cells) = collectProbe(cents)
    val budget = nprobe(n)
    q.toSeq.flatMap(rankCells(cells, _, budget).map(_._1))
  }

  /** The centroid table collected once for [[rankCells]]: its row count
    * (every row) and the rows that can rank — (id, vector widened to
    * doubles), null embeddings and NaN or null elements dropped. A
    * null id is kept: it takes a probe slot. No job for the local
    * relation [[load]] returns, one job for any other frame; the
    * batched driver-side probes ([[Pq.searchAdcCellsBatch]],
    * [[Nsw.searchBatch]]) collect once and rank every query. */
  private[operators] def collectProbe(
      cents: DataFrame): (Long, Array[(Option[Long], Array[Double])]) = {
    val rows = cents.select(col("centroid_id").cast("long"), col("c_emb")).collect()
    (rows.length.toLong, rows.iterator
      .filter(!_.isNullAt(1))
      .map(r => (Option.unless(r.isNullAt(0))(r.getLong(0)),
        r.getSeq[Any](1).map(Pq.widen).toArray))
      .filterNot(_._2.exists(_.isNaN))
      .toArray)
  }

  /** The driver-side centroid ranking of the IVF family: the `budget`
    * collected cells nearest `q`, nearest first, as (id, vector) — the
    * vector is what [[Pq.searchResidualCells]] subtracts.
    *
    * The ranking is the Spark expression's ([[searchBatch]],
    * [[Knn.maxSimIvf]]), bit for bit: `round(l2sq(c_emb, qv), 6)` —
    * (c − q)² summed left to right in double, then round6 — ordered by
    * (cdist, centroid_id) with NaN last and null ids first. Only
    * [[Pq.cleanCentroid]] rows of the query's own dimension rank; a
    * null-id row takes its slot but probes nothing (it never joined).
    * Null query elements arrive as NaN, so every cdist ties and cells
    * go in id order, as Spark's all-null cdist did. */
  private[operators] def rankCells(cells: Array[(Option[Long], Array[Double])],
                                   q: Array[Double], budget: Int): Seq[(Long, Array[Double])] =
    cells.iterator
      .filter(_._2.length == q.length)
      .map { case (id, ce) =>
        var acc = 0.0
        var i = 0
        while (i < ce.length) { val d = ce(i) - q(i); acc += d * d; i += 1 }
        (VecUtil.round6(acc), id, ce)
      }
      .toSeq
      .sortBy(t => (t._1, t._2))(
        Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Option[Long]))
      .take(budget)
      .collect { case (_, Some(id), ce) => (id, ce) }

  /** Batched ANN search: many query vectors at once — the cluster
    * shape for offline inference (per-query driver loops don't scale;
    * one plan answers the whole query table). `queries` columns:
    * (query_id, qv).
    *
    * Per-query nprobe-centroid selection and per-query top-k both run
    * through [[graft.plans.GroupedTopK]] — bounded heaps per query_id
    * before the exchange, no sort, no rank column. Postings join on
    * centroid_id only touches probed cells per query. */
  def searchBatch(postings: DataFrame, cents: DataFrame, queries: DataFrame,
                  nprobe: Int, k: Int): DataFrame = {
    import graft.plans.GroupedTopK
    val qc = queries.crossJoin(broadcast(cents))
      .where(Pq.cleanCentroid(col("c_emb"), size(col("qv")))) // same dirty-centroid drop as search()
      .select(col("query_id"), col("qv"), col("centroid_id"),
        round(l2Sq(col("c_emb"), col("qv")), 6).as("cdist"))
    val probed = GroupedTopK.topK(qc, Seq(col("query_id")),
        Seq(col("cdist").asc, col("centroid_id").asc), nprobe)
      .select("query_id", "qv", "centroid_id")
    val scored = postings.join(probed, "centroid_id")
      .select(col("query_id"), col("vec_id"),
        round(dot(col("embedding"), col("qv")), 6).as("score"))
    GroupedTopK.topK(scored, Seq(col("query_id")),
        Seq(col("score").desc, col("vec_id").asc), k)
      .orderBy(col("query_id"), col("score").desc, col("vec_id"))
  }

  /** Index health report (q63): the cell-balance dial an IVF layout
    * lives or dies by at 100 TB — a skewed cell is a hot partition
    * (every probe of it scans disproportionate data, stragglers bound
    * the stage) and empty cells are wasted probe budget. One row:
    * cell counts, min/avg/max occupancy, skew = max/avg, unassigned
    * rows. Run it per build/append (with [[Pq.append]]'s frozen
    * centroids the balance only DRIFTS, never rebalances — this report
    * is what says when to re-train). Plan: the same zero-shuffle argmin
    * pass as [[assign]], a k-row groupBy, then kB-scale aggregates —
    * scan-speed at any corpus size. */
  def cellBalance(vectors: DataFrame, step: Int): DataFrame = {
    val cents = centroids(vectors, step)
    // a dirty stride row is NOT a cell (nothing assigns to it, no probe
    // reaches it) — count cells under the unified [[Pq.cleanCentroid]]
    // rule, driver-side over the already-bounded collected set
    val cs = collectCentroids(cents)
    val dim = modalDim(cs.mat)
    val nCells = cs.mat.count(v => v.length == dim && !v.exists(_.isNaN))
    val perCell = assign(vectors, cents)
      .where(col("centroid_id").isNotNull)
      .groupBy("centroid_id").agg(count(lit(1)).as("n"))
    val s = perCell.agg(
      count(lit(1)).as("n_nonempty"), sum("n").as("n_vectors"),
      min("n").as("min_cell"), max("n").as("max_cell"))
    val t = vectors.agg(count(lit(1)).as("n_total"))
    s.crossJoin(t).select(
      lit(nCells.toLong).as("n_cells"),
      col("n_vectors").cast("long").as("n_vectors"),
      (col("n_total") - col("n_vectors")).cast("long").as("n_unassigned"),
      (lit(nCells.toLong) - col("n_nonempty")).cast("long").as("n_empty"),
      col("min_cell").cast("long").as("min_cell"),
      col("max_cell").cast("long").as("max_cell"),
      round(col("n_vectors").cast("double") / col("n_nonempty").cast("double"), 6)
        .as("avg_cell"),
      round(col("max_cell").cast("double") * col("n_nonempty").cast("double")
        / col("n_vectors").cast("double"), 6).as("skew"))
  }

  /** Narrow inline postings (no persist): assignment rides the scan —
    * the only exchange a search over these adds is its final top-k.
    * The coalesce makes the join key non-nullable so a probed-centroid
    * inner join ([[searchBatch]]) does NOT insert an isnotnull Filter
    * that would re-evaluate the whole argmin a second time per row (-1
    * matches no probed centroid, so unassignable rows drop exactly as
    * the null would). */
  private[operators] def inlinePostings(vectors: DataFrame, cents: DataFrame): DataFrame =
    vectors.select(col("vec_id"), col("embedding"),
      coalesce(nearest(vectors, collectCentroids(cents)).getField("centroid_id"), lit(-1L))
        .as("centroid_id"))

  // ── Deletion lifecycle ──────────────────────────────────────────────
  //
  // Parquet is immutable, so deletes follow the log-structured contract
  // every lake format (Delta/Iceberg/Hudi) and every segment-based ANN
  // engine use: record tombstones cheaply NOW, subtract them at READ
  // time, fold them in physically at COMPACTION time. The reference
  // would rebuild its in-memory graph (Program.cs:125-204); a 100 TB
  // index records a kB-scale tombstone file instead.

  /** Record deletions: append `ids` (frame with `vec_id`) to the
    * index's tombstone log. O(delete batch) — no index data is read or
    * rewritten. */
  def tombstone(path: String, ids: DataFrame): Unit =
    ids.select(col("vec_id")).write.mode("append")
      .parquet(s"$path/tombstones")

  /** The index's current tombstone set (empty frame if none recorded).
    * Existence goes through the Hadoop FileSystem of the index path —
    * the same resolution [[compact]] uses — so HDFS/S3 layouts see
    * their tombstones too (a local-only `java.io.File` probe would
    * silently resurrect deletes on any non-local filesystem). */
  def tombstones(spark: SparkSession, path: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val p = new Path(s"$path/tombstones")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.parquet(p.toString).select("vec_id").distinct()
    else spark.range(0).select(col("id").as("vec_id"))
  }

  /** Delete-aware search: [[search]] over postings minus the tombstone
    * set. The subtraction is a broadcast LEFT ANTI join (tombstones are
    * kB-MB against a TB postings side), evaluated only on the probed
    * cells' rows — probe geometry is untouched (deleted vectors stop
    * SURFACING immediately; their mass still shapes centroids until the
    * next re-train, the standard staleness trade every tombstoning
    * index accepts). */
  def searchWithDeletes(postings: DataFrame, cents: DataFrame, dead: DataFrame,
                        query: DataFrame, nprobe: Int, k: Int): DataFrame =
    search(postings.join(broadcast(dead.select("vec_id")), Seq("vec_id"), "left_anti"),
      cents, query, nprobe, k)

  /** Fold tombstones in physically — but rewrite ONLY the cell
    * partitions that actually contain a tombstoned id: a lookup join
    * finds the affected centroid_ids (partition pruning serves every
    * untouched cell's files unchanged), those partitions rewrite minus
    * their dead rows, and the tombstone log resets. O(affected cells),
    * not O(index) — deletes clustered in a few cells (the common case:
    * a bad crawl shard was ingested into adjacent cells) cost only
    * those cells' rewrite. */
  def compact(spark: SparkSession, path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val dead = tombstones(spark, path)
    val postings = loadPostings(spark, path)
    // the only collect: affected CELL IDS — bounded by the centroid
    // count (kB), never by data size
    val affected = postings.join(broadcast(dead), "vec_id")
      .select("centroid_id").distinct().collect().map(_.get(0).toString)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    affected.foreach { cid =>
      val dir = s"$path/postings/centroid_id=$cid"
      val tmp = s"$path/postings_compacting/centroid_id=$cid"
      // executor-side rewrite of this one cell into a temp dir, then a
      // rename-aside swap: live→.old, tmp→live, drop .old. Every
      // intermediate state keeps the cell recoverable (under live, .old
      // or tmp) — a delete-before-rename crash window would instead
      // serve the index with the cell silently missing. The .old
      // pre-delete clears debris from a previous crashed swap.
      spark.read.parquet(dir)
        .join(broadcast(dead), Seq("vec_id"), "left_anti")
        .write.mode("overwrite").parquet(tmp)
      val old = new Path(s"$dir.old")
      fs.delete(old, true)
      fs.rename(new Path(dir), old)
      fs.rename(new Path(tmp), new Path(dir))
      fs.delete(old, true)
    }
    fs.delete(new Path(s"$path/postings_compacting"), true)
    // reset the log (all folded in)
    fs.delete(new Path(s"$path/tombstones"), true)
  }

  /** In-memory search without persist (for the oracle-checked query key):
    * same plan, postings = [[inlinePostings]]. */
  def searchInline(vectors: DataFrame, step: Int, query: DataFrame,
                   nprobe: Int, k: Int): DataFrame = {
    val cents = centroids(vectors, step)
    search(inlinePostings(vectors, cents), cents, query, nprobe, k)
  }

  /** Probe budget for a cell count when the caller doesn't pin one —
    * the √-rule (FAISS's nprobe ∝ √nlist guidance): probing ⌈√C⌉ of C
    * cells keeps the probed row mass at ~n/√C, which holds measured
    * recall roughly flat as an index is re-trained to more cells
    * (q62's audit documented the failure mode this replaces: a FIXED
    * nprobe=4 over 800 sf1 cells probed 0.5 % of the corpus and
    * recall@20 fell to 0.05-0.55). Sublinear by construction — a 10×
    * cell count grows the default probe ~3.2×. The dial stays a dial:
    * [[graft.operators.RecallAudit.tuneNProbe]] REPLACES this default
    * with a measured one when a recall target is contractual. */
  def autoNProbe(cells: Long): Int =
    math.max(1, math.ceil(math.sqrt(cells.toDouble)).toInt)

  /** [[search]] with the [[autoNProbe]] √-rule default. The cell count
    * is the centroid table's row count, dirty rows included, taken from
    * the rows [[probeCells]] collects — no separate count job, and over
    * a [[load]]ed index no job at all before the search's own. */
  def search(postings: DataFrame, cents: DataFrame, query: DataFrame,
             k: Int): DataFrame =
    searchProbed(postings, cents, query, autoNProbe, k)

  /** [[searchBatch]] with the [[autoNProbe]] √-rule default. The row
    * count collects the table's empty projection, which runs no job for
    * a [[load]]ed (local) table; `count()` would plan an aggregate and
    * run it as a job even there. */
  def searchBatch(postings: DataFrame, cents: DataFrame, queries: DataFrame,
                  k: Int): DataFrame =
    searchBatch(postings, cents, queries, autoNProbe(cents.select().collect().length), k)

  /** [[searchInline]] with the [[autoNProbe]] √-rule default. */
  def searchInline(vectors: DataFrame, step: Int, query: DataFrame,
                   k: Int): DataFrame = {
    val cents = centroids(vectors, step)
    search(inlinePostings(vectors, cents), cents, query, k)
  }

  /** Cell-split rebalance (q69) — the ACTION the [[cellBalance]] (q63)
    * report calls for when skew crosses threshold: every cell whose
    * occupancy exceeds `maxCell` splits in two, members reassigned
    * between sub-centroids seeded at the cell's min- and max-vec_id
    * members (deterministic seeds, so the whole rebalance is
    * oracle-checkable — production would 2-means-refine the halves,
    * [[refineCentroids]], which preserves this split's cost shape).
    * Returns the post-rebalance occupancy report (new_centroid_id, n):
    * ids remap collision-free as old·2 (+1 for the far-seed half), the
    * standard doubling scheme for hierarchical splits.
    *
    * Scale shape: per-cell counts are a k-row aggregate; seed lookup
    * joins the k_over-row oversized list against the corpus (broadcast
    * the small side); the reassignment argmin evaluates ONLY on
    * oversized cells' rows (the `keep` leg is a broadcast anti-join —
    * untouched rows never compute a distance). On a persisted layout
    * this is a rewrite of only the oversized partitions, the same
    * O(affected cells) contract as [[compact]]. */
  def splitOversized(vectors: DataFrame, step: Int, maxCell: Int): DataFrame = {
    val assigned = assignWithEmbedding(vectors, centroids(vectors, step))
    val counts = assigned.groupBy("centroid_id").agg(
      count(lit(1)).as("n"), min("vec_id").as("lo"), max("vec_id").as("hi"))
    val over = counts.where(col("n") > maxCell)
    val vid = vectors.select(col("vec_id"), col("embedding"))
    val seeds = broadcast(over)
      .join(vid.select(col("vec_id").as("lo"), col("embedding").as("lo_emb")), "lo")
      .join(vid.select(col("vec_id").as("hi"), col("embedding").as("hi_emb")), "hi")
      .select("centroid_id", "lo_emb", "hi_emb")
    val split = assigned.join(broadcast(seeds), "centroid_id")
      .select(col("vec_id"),
        (col("centroid_id") * 2 + when(
          round(l2Sq(col("embedding"), col("hi_emb")), 6) <
            round(l2Sq(col("embedding"), col("lo_emb")), 6), 1L).otherwise(0L))
          .as("new_centroid_id"))
    val keep = assigned
      .join(broadcast(over.select("centroid_id")), Seq("centroid_id"), "left_anti")
      .select(col("vec_id"), (col("centroid_id") * 2).as("new_centroid_id"))
    keep.union(split)
      .groupBy(col("new_centroid_id").as("centroid_id"))
      .agg(count(lit(1)).as("n_vectors"))
      .select(col("centroid_id"), col("n_vectors"))
      .orderBy("centroid_id")
  }

  /** [[searchWithDeletes]] without persist (the oracle-checked query
    * key): centroids and probe geometry from the full corpus,
    * tombstoned rows subtracted from the postings side. */
  def searchInlineWithDeletes(vectors: DataFrame, step: Int, dead: DataFrame,
                              query: DataFrame, nprobe: Int, k: Int): DataFrame = {
    val cents = centroids(vectors, step)
    searchWithDeletes(inlinePostings(vectors, cents), cents, dead, query, nprobe, k)
  }

  /** Filtered ANN — the probed twin of [[Knn.topKDotFiltered]], as
    * PRE-filtering: centroids come from the FULL corpus (the index
    * layout doesn't know future predicates), the predicate applies
    * below the assignment argmin, so only matching rows are ever
    * scored and the filter still pushes to the scan. This is the
    * standard filtered-IVF design (FAISS `IDSelector`, Milvus/Vespa
    * filtered search): probe geometry is unchanged, each probed cell
    * yields only its matching members.
    *
    * The trade every filtered-ANN user owns: with a fixed `nprobe` a
    * highly selective predicate can leave < k matches inside the
    * probed cells (matches live elsewhere). Raise `nprobe` as
    * selectivity drops, or below ~1 % selectivity switch to
    * [[Knn.topKDotFiltered]] — the pushed-filter exact scan is then
    * cheaper than probing most of the index anyway. */
  def searchInlineFiltered(vectors: DataFrame, step: Int, pred: Column,
                           query: DataFrame, nprobe: Int, k: Int): DataFrame = {
    val cents = centroids(vectors, step)
    search(inlinePostings(vectors.where(pred), cents), cents, query, nprobe, k)
  }

  /** Fraction of rows matching `pred` — the router's selectivity
    * probe. ONE map-side-partial aggregation pass; with
    * `sampleStride > 1` it runs over the deterministic vec_id-stride
    * sample instead of the corpus, so at 100 TB the probe reads a
    * bounded slice (the stride sample is unbiased for predicates
    * uncorrelated with id assignment — the common metadata case; a
    * production catalog would answer this from column statistics
    * without any scan, which is exactly the number this computes). */
  def selectivity(vectors: DataFrame, pred: Column, sampleStride: Int = 1): Double = {
    val base =
      if (sampleStride <= 1) vectors
      else vectors.where(pmod(col("vec_id"), lit(sampleStride.toLong)) === 0)
    val r = base.agg(count(lit(1)).as("n"),
      count(when(pred, 1)).as("m")).collect()(0)
    if (r.getLong(0) == 0L) 0.0 else r.getLong(1).toDouble / r.getLong(0)
  }

  /** The selectivity-aware router between the two filtered-search
    * strategies (the third piece of the q65 family — the scaladoc
    * above and SURVEY row 64 describe the trade; this codes the
    * decision). Below `exactBelow` selectivity the pushed-filter
    * exact scan ([[Knn.topKDotFiltered]]) wins: matching rows are so
    * few that parquet row-group stats skip most of the file, the scan
    * touches ~selectivity × corpus, and a fixed-nprobe probe would
    * under-fill k anyway (matches live outside the probed cells — the
    * recall cliff, not just a perf trade). At-or-above it, pre-filter
    * IVF ([[searchInlineFiltered]]) probes a bounded cell budget and
    * scores only `nprobe/C` of the corpus — the sublinear path once
    * matches are plentiful enough that every probed cell holds some.
    *
    * Returns (strategy, result) so callers and specs can assert the
    * routing; strategy ∈ {"exact_filtered", "prefilter_ivf"}. The
    * default threshold mirrors the documented ~1 % guidance. */
  def searchFilteredRouted(vectors: DataFrame, step: Int, pred: Column,
                           query: DataFrame, nprobe: Int, k: Int,
                           exactBelow: Double = 0.01,
                           sampleStride: Int = 1): (String, DataFrame) = {
    val sel = selectivity(vectors, pred, sampleStride)
    if (sel < exactBelow)
      ("exact_filtered", Knn.topKDotFiltered(vectors, pred, query, k))
    else
      ("prefilter_ivf", searchInlineFiltered(vectors, step, pred, query, nprobe, k))
  }

  /** Modal embedding dimension of the corpus (most common length,
    * smallest on ties — the [[modalDim]] convention, computed
    * distributed). */
  private def corpusDim(vectors: DataFrame): Int = {
    val rows = vectors.where(col("embedding").isNotNull)
      .groupBy(size(col("embedding")).as("d")).agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), asc("d")).limit(1).collect()
    if (rows.isEmpty) 0 else rows(0).getInt(0)
  }

  /** k-means|| scalable seeding (Bahmani, Moseley, Vattani, Kumar,
    * Vassilvitskii — VLDB 2012): the distributed replacement for the
    * stride-sampled init. Stride sampling is uniform over ids, so on a
    * corpus whose mass concentrates (real embedding collections) it
    * plants most seeds inside the dense blob and Lloyd spends its
    * budget dragging them out; k-means|| seeds proportionally to
    * squared distance from the current set (the k-means++ bias) in
    * O(rounds) PASSES instead of k sequential draws — each round every
    * point samples itself independently with probability
    * min(1, ℓ·d²(x,C)/φ(C)), expected ℓ new candidates per round.
    *
    * Deterministic and partition-invariant: the coin is a 2³¹-LCG of
    * (vec_id, round) — the weightedReservoir convention — and the
    * threshold ℓ·d²/φ is built from EXACT integers (d² is the argmin
    * kernel's round6 value in 1e-6 units summed as longs), so no
    * float-sum order can flip a sample.
    *
    * Scale shape per round: one broadcast-argmin scan (zero shuffles,
    * the [[assign]] kernel) + one 1-row agg; the candidate set stays
    * bounded (~1 + ℓ·rounds) and is the only collected state. The
    * final reduction to k — weighted farthest-first, then weighted
    * Lloyd on the candidates — runs on the driver over that bounded
    * set (the paper's step 8 reclusters the weighted candidates with
    * k-means++; farthest-first is its deterministic sibling).
    *
    * Returns (centroid_id 0..k-1, c_emb), drop-in for
    * [[refineCentroids]] / [[collectCentroids]] / [[assign]]. */
  def kmeansParallelInit(vectors: DataFrame, k: Int, rounds: Int = 5,
                         oversample: Double = 0.0, seed: Long = 2026L): DataFrame = {
    require(k > 0 && rounds > 0)
    val ell = if (oversample > 0) oversample else 2.0 * k
    val spark = vectors.sparkSession
    import spark.implicits._
    val dim = corpusDim(vectors)
    val empty = Seq.empty[(Long, Seq[Float])].toDF("centroid_id", "c_emb")
    if (dim == 0) return empty
    val clean = vectors.where(assignable(dim))
    val seedRows = clean.orderBy("vec_id").limit(1)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"))
    if (seedRows.isEmpty) return empty
    var cand = seedRows
    // every candidate pin; all are dead once the final set is collected
    val pins = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var r = 0
    var drained = false
    while (r < rounds && !drained) {
      r += 1
      val cs = collectCentroids(cand)
      val scored = clean.select(col("vec_id"), col("embedding"),
        round(nearest(clean, cs).getField("dist") * 1e6, 0).cast("long").as("d6"))
      val phiRow = scored.agg(sum(col("d6"))).collect()(0)
      val phi = if (phiRow.isNullAt(0)) 0L else phiRow.getLong(0)
      if (phi == 0L) drained = true // every point sits on a candidate
      else {
        val lcg = pmod(col("vec_id") * lit(1103515245L) + lit(seed + r), lit(2147483648L))
        val u = (lcg + lit(1L)).cast("double") / lit(2147483649.0)
        val p = lit(ell) * col("d6").cast("double") / lit(phi.toDouble)
        val picked = scored.where(u < p)
          .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"))
        cand = SqlBridge.leanCheckpoint(cand.unionByName(picked), eager = false)
        pins += cand
      }
    }
    // Weighted reduction to k, driver-side over the bounded candidates.
    val cs = collectCentroids(cand)
    pins.foreach(SqlBridge.unpin)
    val wMap = clean
      .select(nearest(clean, cs).getField("centroid_id").as("cid"))
      .groupBy("cid").agg(count(lit(1)).as("w")).collect()
      .map(row => row.getLong(0) -> row.getLong(1)).toMap
    val pts = cs.cids.zip(cs.mat) // cids ascending (collectCentroids sorts)
    val w = pts.map { case (cid, _) => wMap.getOrElse(cid, 0L).toDouble }
    def l2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val kk = math.min(k, pts.length)
    // farthest-first: start at max weight (min id tie), then argmax w·minD²
    val chosen = new Array[Int](kk)
    chosen(0) = w.indices.maxBy(i => (w(i), -pts(i)._1))
    val minD = pts.map(p => l2(p._2, pts(chosen(0))._2))
    for (c <- 1 until kk) {
      val next = minD.indices.maxBy(i => (w(i) * minD(i), -pts(i)._1))
      chosen(c) = next
      for (i <- minD.indices)
        minD(i) = math.min(minD(i), l2(pts(i)._2, pts(next)._2))
    }
    var cents = chosen.map(i => pts(i)._2.clone())
    for (_ <- 0 until 10) { // weighted Lloyd on the candidate set
      val sums = Array.fill(kk)(new Array[Double](dim))
      val ws = new Array[Double](kk)
      for (i <- pts.indices if w(i) > 0) {
        var best = 0; var bd = Double.MaxValue
        for (c <- 0 until kk) {
          val d = l2(pts(i)._2, cents(c)); if (d < bd) { bd = d; best = c }
        }
        ws(best) += w(i)
        var j = 0
        while (j < dim) { sums(best)(j) += w(i) * pts(i)._2(j); j += 1 }
      }
      cents = Array.tabulate(kk)(c =>
        if (ws(c) > 0) sums(c).map(_ / ws(c)) else cents(c))
    }
    cents.zipWithIndex
      .map { case (v, i) => (i.toLong, v.map(_.toFloat).toSeq) }.toSeq
      .toDF("centroid_id", "c_emb")
  }

  /** q172: seeding-quality report — stride vs k-means|| under the same
    * Lloyd budget, the dial that says whether the corpus NEEDS the
    * better seeding. One row per method: surviving cell count, inertia
    * (mean squared assignment distance), and occupancy skew (max and
    * p99-ish top cell share). All collected state is k-bounded. */
  def seedingQuality(vectors: DataFrame, k: Int, lloydIters: Int = 2): DataFrame = {
    require(k > 0)
    val spark = vectors.sparkSession
    import spark.implicits._
    // The two init methods plus their shared Lloyd budget and final
    // assignment make ~20 passes over the vector table per report
    // (count, stride init, 5 k-means|| rounds x 2 actions each, the
    // weighted reduction, 2x lloydIters refinements, 2 final argmin
    // scans). Training sets are cached by every distributed k-means
    // (MLlib warns when they are not); one materialization here turns
    // the other ~19 passes into memory reads of the narrow
    // (vec_id, embedding) frame. Every collected statistic lands in
    // driver rows before return, so the blocks are freed eagerly —
    // nothing the returned frame reads survives this call.
    val v = SqlBridge.leanCheckpoint(vectors.select("vec_id", "embedding"))
    try {
      val n = v.count()
      val step = math.max(1, math.ceil(n.toDouble / k).toInt)
      val rows = Seq(
        "stride" -> centroids(v, step),
        "kmeans_par" -> kmeansParallelInit(v, k)).map { case (method, init) =>
        val refined = refineCentroids(v, init, lloydIters)
        val cs = collectCentroids(refined)
        val a = v.where(assignable(modalDim(cs.mat)))
          .select(nearest(v, cs).as("dc"))
          .select(col("dc.centroid_id").as("cid"), col("dc.dist").as("d"))
        val cells = a.groupBy("cid").agg(count(lit(1)).as("c"), sum(col("d")).as("sd"))
          .collect().map(row => (row.getLong(1), row.getDouble(2)))
        val total = cells.map(_._1).sum
        val inertia = if (total == 0) 0.0
          else math.round(cells.map(_._2).sum / total * 1e6) / 1e6
        val maxCell = if (cells.isEmpty) 0L else cells.map(_._1).max
        (method, cells.length.toLong, total, inertia, maxCell,
          if (total == 0) 0.0 else math.round(maxCell.toDouble / total * 1e6) / 1e6)
      }
      rows.toDF("method", "n_cells", "n_assigned", "inertia", "max_cell", "max_share")
        .orderBy("method")
    } finally SqlBridge.unpin(v)
  }
}
