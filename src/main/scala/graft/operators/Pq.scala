package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.CentroidSet
import graft.functions.NearestCentroid
import org.apache.spark.sql.graftbridge.SqlBridge

/** Product quantization — the memory-compressed ANN path that
  * complements IVF ([[Ivf]]): each vector is encoded as `m` small
  * integer codes (one per subspace), and search runs against the codes
  * via an asymmetric distance computation (ADC) lookup table instead of
  * the raw floats. (Jégou, Douze, Schmid, "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011 — the public-paper basis.)
  *
  * Scale story (the reason PQ exists at 100 TB): a 64-float embedding is
  * 256 bytes; its 8 codes are 8 bytes — a 32× smaller candidate table,
  * so the ADC scan reads ~3 TB where the exact scan reads 100 TB, and
  * the codes table of a billion-vector corpus fits in cluster page
  * cache. Codebooks are kB-scale (m × k × sub-dim doubles) and ride a
  * broadcast; encoding is a narrow, zero-shuffle, whole-stage-codegen'd
  * argmin per subspace (the same [[NearestCentroid]] kernel as IVF
  * assignment, fed with array slices); search is a narrow
  * lookup-table sum followed by `TakeOrderedAndProject`. Nothing here
  * shuffles except the final k-row-per-partition top-k merge.
  *
  * Codebook selection is deterministic (every `step`-th vector, code id
  * = vec_id / step — the same stride policy as [[Ivf.centroids]]) so
  * every stage is oracle-checkable; swapping in Lloyd-refined codebooks
  * ([[Ivf.refineCentroids]] per subspace) changes recall, not shape.
  */
object Pq {

  private[operators] def widen(v: Any): Double = v match {
    case f: Float => f.toDouble
    case d: Double => d
    case n: Number => n.doubleValue()
    case null => Double.NaN
  }

  /** Per-subspace codebooks collected once, driver-side (k ≪ n rows —
    * the same bounded collect as [[Ivf.collectCentroids]]): subspace j
    * holds the j-th `dim/m` slice of every stride vector, code id =
    * codebook index in stride order (= vec_id / step exactly when
    * stride ids are contiguous from 0, as on the oracle corpus).
    * Source vectors whose length differs from the modal dimension are
    * excluded (they cannot slice consistently). */
  def codebooks(vectors: DataFrame, step: Int, m: Int): Seq[CentroidSet] = {
    val rows = vectors.filter(pmod(col("vec_id"), lit(step.toLong)) === 0)
      .select((col("vec_id") / step).cast("long").as("code"), col("embedding"))
      .collect()
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      // A null ELEMENT poisons only the subspace slice it lands in while
      // the other m-1 slices stay real — a half-usable codebook entry.
      // The oracle (cleanEmb) treats such a stride row as fully absent;
      // drop the whole row so both sides agree.
      .filter(r => !r.getSeq[Any](1).contains(null))
      .sortBy(_.getLong(0))
      .map(_.getSeq[Any](1).map(widen).toArray)
    sliceCodebooks(rows, m)
  }

  /** `m` per-subspace codebooks over collected source rows (in code
    * order): rows of the modal dimension ([[Ivf.modalDim]] — a single
    * off-dim first row must not redefine it and silently discard every
    * normal-dim row) cut into `dim/m` slices; other rows are dropped.
    *
    * Code ids are the codebook INDEX (0..k-1 in row order) — the
    * standard PQ contract, NOT the raw vec_id/step. On the oracle
    * corpus the two coincide (stride ids are contiguous from 0), but
    * under arbitrary vec_ids (key-shifted copies, sharded lakes) raw
    * ids are sparse and anything that densifies by code — the ADC
    * lookup tables — would allocate max(id) slots: the sf1 corpus's
    * 1e8-shifted ids turned 800-entry tables into 2.3 GB of arrays
    * and OOMed the driver. Rank codes keep every table exactly k. */
  private def sliceCodebooks(rows: Array[Array[Double]], m: Int): Seq[CentroidSet] = {
    val dim = if (rows.isEmpty) m else Ivf.modalDim(rows)
    require(dim % m == 0, s"dim $dim not divisible by $m subspaces")
    val sub = dim / m
    val uniform = rows.filter(_.length == dim)
    val ranks = uniform.indices.map(_.toLong).toArray
    (0 until m).map { j =>
      CentroidSet(ranks, uniform.map(v => java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub)))
    }
  }

  /** Fixed-k codebooks: stride chosen so the codebook holds ~k entries
    * REGARDLESS of corpus size — the real-PQ contract (k = 256
    * classically; ADC table cost and code width depend on k, not n).
    * The fixed-stride [[codebooks]] couples k to the corpus (k = n/step)
    * — fine for the oracle-pinned keys, but the r15 sf1 probe measured
    * the consequence at scale: encode work is n×k, so stride-k read 18×
    * wall for 10× data while this fixed-k shape read 3.9×. One count
    * job to size the stride. */
  def codebooksK(vectors: DataFrame, k: Int, m: Int): Seq[CentroidSet] = {
    require(k > 0)
    val n = vectors.count()
    codebooks(vectors, math.max(1, math.ceil(n.toDouble / k).toInt), m)
  }

  private def subDim(cbs: Seq[CentroidSet]): Int =
    cbs.head.mat.headOption.map(_.length).getOrElse(0)

  /** The m per-subspace code columns (`c0`…`c{m-1}`), each a
    * [[NearestCentroid]] argmin over that subspace's broadcast codebook
    * slice of the embedding. */
  private def codeCols(vectors: DataFrame, cbs: Seq[CentroidSet]) = {
    val sub = subDim(cbs)
    val sc = vectors.sparkSession.sparkContext
    cbs.zipWithIndex.map { case (cs, j) =>
      SqlBridge.column(NearestCentroid(
        SqlBridge.expression(slice(col("embedding"), j * sub + 1, sub)),
        sc.broadcast(cs))).getField("centroid_id").as(s"c$j")
    }
  }

  /** A vector column that can take part in distance math: non-null,
    * exactly `dim` components, NO null elements. The null-element check
    * matters because a null component poisons the argmin to null and
    * Spark's ascending sort is NULLS FIRST — without it a dirty row
    * would claim a top-k slot with a null distance (while the DuckDB
    * oracle, whose list_sum SKIPS nulls, would assign it a real one).
    * All three conjuncts are codegen'd predicates on the raw column
    * (array_compact is native), so the filter pushes to the scan with
    * no double-eval of any argmin (see [[Ivf.assignable]]). */
  private[operators] def cleanVec(c: Column, dim: Int): Column =
    c.isNotNull && size(c) === dim && size(array_compact(c)) === dim

  /** Column-dim overload for call sites where the expected dimension is
    * witnessed by another column (e.g. the query vector's size) rather
    * than a compile-time constant — same three codegen'd conjuncts. */
  private[operators] def cleanVec(c: Column, dim: Column): Column =
    c.isNotNull && size(c) === dim && size(array_compact(c)) === dim

  /** Probe-path CENTROID filter — the unified dirty-centroid rule: a
    * centroid that is null, off-dimension, has a null element, or has a
    * NaN element is EXCLUDED from probing, on every probe path. The NaN
    * leg is what [[cleanVec]] cannot see: a NaN component gives a NaN
    * probe distance, which both engines would rank last — but "last"
    * still absorbs a probe slot once nprobe exceeds the clean-centroid
    * count, and the batched driver-side paths (whose collected matrices
    * widen null elements to NaN and drop on `isNaN`) already excluded
    * it, so at that boundary single and batched search probed different
    * cells (r8 advice). Exclusion everywhere closes the asymmetry. The
    * oracles' cleanEmb guard has no NaN leg because the corpus has no
    * NaN floats — on any NaN-free corpus the two sides coincide
    * exactly. The `exists` HOF is interpreted, not codegen'd, but it
    * runs over the kB-scale centroid frame, never the corpus. */
  private[operators] def cleanCentroid(c: Column, dim: Column): Column =
    cleanVec(c, dim) && !exists(c, x => isnan(x))

  /** Pre-filter for encodable rows — a predicate on the RAW embedding
    * column. Filtering on the projected codes' isNotNull instead was
    * the double-eval trap (see Ivf.assignable): Catalyst pushed the m
    * predicates back through the Project and every subspace argmin ran
    * TWICE per row — 2× the entire encode cost. */
  private def encodable(cbs: Seq[CentroidSet]) =
    cleanVec(col("embedding"), subDim(cbs) * cbs.length)

  /** PQ encode: vec_id + one code column per subspace (`c0`…`c{m-1}`),
    * each a [[NearestCentroid]] argmin over that subspace's broadcast
    * codebook — m narrow codegen'd expressions, zero shuffles. Rows
    * whose embedding cannot be encoded (null / off-dimension / null
    * elements) are dropped: they have no code representation. */
  def encode(vectors: DataFrame, cbs: Seq[CentroidSet]): DataFrame =
    vectors.where(encodable(cbs))
      .select(col("vec_id") +: codeCols(vectors, cbs): _*)

  /** Lloyd-refined codebooks — the production default where recall
    * matters more than oracle-pinning: `iters` k-means rounds per
    * subspace over the corpus's subspace slices, seeded from the
    * deterministic stride codebooks (so refinement strictly improves
    * the quantizer the oracle keys pin). Runs [[Ivf.refineCentroids]]
    * once per subspace — m × iters bounded-output aggregation jobs.
    * At 100 TB codebooks train on a SAMPLE (the standard practice —
    * quantizer training needs ~1k vectors per code, not the corpus);
    * pass `vectors.sample(...)` for that, encode still sees everything.
    * Empty-cluster codes drop out (standard k-means behavior), so
    * refined codebooks may be smaller — [[distTables]] indexes by
    * code id and tolerates gaps. */
  def refineCodebooks(vectors: DataFrame, cbs: Seq[CentroidSet],
                      iters: Int): Seq[CentroidSet] = {
    val sub = subDim(cbs)
    val spark = vectors.sparkSession
    import spark.implicits._
    cbs.zipWithIndex.map { case (cs, j) =>
      val slices = vectors.where(encodable(cbs))
        .select(col("vec_id"),
          slice(col("embedding").cast("array<double>"), j * sub + 1, sub).as("embedding"))
      val init = cs.cids.zip(cs.mat.map(_.toSeq)).toSeq
        .toDF("centroid_id", "c_emb")
      Ivf.collectCentroids(Ivf.refineCentroids(slices, init, iters))
    }
  }

  /** ADC distance lookup tables for one query: dtab(j)(code) =
    * round(‖q_sub_j − codebook_j(code)‖², 6), indexed densely by code
    * id. Tiny (m × k doubles) — computed driver-side exactly like any
    * ANN engine does per query, then shipped as array literals so the
    * scan-side sum stays inside whole-stage codegen. */
  def distTables(cbs: Seq[CentroidSet], q: Array[Double]): Seq[Array[Double]] = {
    val sub = subDim(cbs)
    require(q.length == sub * cbs.length,
      s"query dim ${q.length} != ${sub * cbs.length}")
    cbs.zipWithIndex.map { case (cs, j) =>
      val size = if (cs.cids.isEmpty) 0 else cs.cids.max.toInt + 1
      val dt = Array.fill(size)(Double.NaN)
      var i = 0
      while (i < cs.cids.length) {
        val ce = cs.mat(i)
        var acc = 0.0
        var d = 0
        while (d < sub) {
          val diff = q(j * sub + d) - ce(d)
          acc += diff * diff
          d += 1
        }
        dt(cs.cids(i).toInt) = graft.functions.VecUtil.round6(acc)
        i += 1
      }
      dt
    }
  }

  /** The 1-row query frame's vector, driver-side (contractually bounded
    * collect — same shape as [[distTables]]' per-query table build). */
  private[operators] def collectQuery(query: DataFrame): Array[Double] =
    query.collect() match {
      case Array(row) => row.getSeq[Any](0).map(widen).toArray
      case other => throw new IllegalArgumentException(
        s"query must be exactly 1 row, got ${other.length}")
    }

  /** Σ_j dtab_j(code_j) as literal-array lookups — stays inside
    * whole-stage codegen on the codes scan. Each table is ONE
    * `typedlit` Literal (an ArrayData the generated code indexes), NOT
    * `array(lit, lit, …)`: per-element lit() builds k Column objects
    * each capturing a call-site origin, and at production codebook
    * sizes (k ≈ √n) that construction alone OOMed the driver — 800
    * codes × 8 subspaces was enough. One Literal per table is O(1)
    * columns and the scan-side lookup is identical. */
  private def adcDist(dtabs: Seq[Array[Double]]): Column =
    dtabs.zipWithIndex.map { case (dt, j) =>
      element_at(typedlit(dt.toSeq), col(s"c$j").cast("int") + 1)
    }.reduce(_ + _)

  /** ADC top-k search: approx dist = Σ_j dtab_j(code_j), evaluated as a
    * literal-array lookup per subspace over the ENCODED table — the scan
    * never touches the float embeddings. Ascending L2 top-k with vec_id
    * tie-break via `TakeOrderedAndProject`. `query` is a 1-row frame
    * with column `qv` (see [[Knn.queryVector]]).
    *
    * This is the FLAT scan: every code row is read (32× less I/O than
    * the float table, but still linear). The sublinear path is
    * [[searchIvfAdc]] — the same ADC over probed IVF cells only. */
  def searchAdc(encoded: DataFrame, cbs: Seq[CentroidSet], query: DataFrame,
                k: Int): DataFrame = {
    val dtabs = distTables(cbs, collectQuery(query))
    encoded
      .select(col("vec_id"), round(adcDist(dtabs), 6).as("approx_dist"))
      .orderBy(asc("approx_dist"), asc("vec_id"))
      .limit(k)
  }

  /** Batched flat-ADC search: a whole query TABLE answered in one plan
    * (per-query driver loops don't scale — the same contract as
    * [[Ivf.searchBatch]]). Queries collect driver-side (a bounded query
    * table, the same contract as [[collectQuery]]); their dist tables
    * ship as ONE broadcast frame (query_id, dts) of q × m × k doubles
    * (kB–MB scale), the scan crossJoins it — n × q scored rows, the
    * inherent cost of a flat batched scan over 32×-compressed codes —
    * and per-query top-k runs through [[graft.plans.GroupedTopK]]:
    * bounded heaps before the exchange, no sort, no rank column. */
  def searchAdcBatch(encoded: DataFrame, cbs: Seq[CentroidSet],
                     queries: DataFrame, k: Int): DataFrame = {
    val spark = encoded.sparkSession
    import spark.implicits._
    // Guard the collected query rows on the RAW columns: a null or
    // off-dim qv (or null query_id) would NPE the driver in distTables/
    // getLong — the same cleanVec contract every scan-side path applies
    // (r8 advice). Dirty queries have no answerable distance; drop them.
    val qs = queries
      .where(col("query_id").isNotNull && cleanVec(col("qv"), subDim(cbs) * cbs.length))
      .select(col("query_id").cast("long"), col("qv")).collect()
      .map(r => (r.getLong(0), r.getSeq[Any](1).map(widen).toArray))
    val qdt = qs.toSeq
      .map { case (qid, qv) => (qid, distTables(cbs, qv).map(_.toSeq)) }
      .toDF("query_id", "dts")
    val dist = cbs.indices.map(j =>
      element_at(element_at(col("dts"), j + 1), col(s"c$j").cast("int") + 1))
      .reduce(_ + _)
    graft.plans.GroupedTopK.topK(
      encoded.crossJoin(broadcast(qdt))
        .select(col("query_id"), col("vec_id"), round(dist, 6).as("approx_dist")),
      Seq(col("query_id")), Seq(col("approx_dist").asc, col("vec_id").asc), k)
      .orderBy("query_id", "approx_dist", "vec_id")
  }

  /** Codes WITH their coarse IVF cell riding the same narrow pass:
    * vec_id, centroid_id (full-dim [[NearestCentroid]] argmin over
    * `cents`, coalesced to -1 so the key is non-nullable — a probed-cell
    * inner join then drops unassignable rows without Catalyst inserting
    * an isnotnull filter that would re-run the argmin), c0…c{m-1}.
    * This is the billion-scale IVF-PQ layout (Jégou et al. 2011 §IV):
    * the codes table clustered by coarse cell. */
  def encodeWithCell(vectors: DataFrame, cents: DataFrame,
                     cbs: Seq[CentroidSet]): DataFrame = {
    val cs = Ivf.collectCentroids(cents)
    val cell = coalesce(
      SqlBridge.column(NearestCentroid(
        SqlBridge.expression(col("embedding")),
        vectors.sparkSession.sparkContext.broadcast(cs))).getField("centroid_id"),
      lit(-1L)).as("centroid_id")
    vectors.where(encodable(cbs))
      .select(col("vec_id") +: cell +: codeCols(vectors, cbs): _*)
  }

  private def writeCodebooks(spark: org.apache.spark.sql.SparkSession,
                             cbs: Seq[CentroidSet], path: String): Unit = {
    import spark.implicits._
    cbs.zipWithIndex.flatMap { case (cs, j) =>
      cs.cids.zip(cs.mat).map { case (code, v) => (j, code, v.toSeq) }
    }.toDF("subspace", "code", "sub_emb")
      .write.mode("overwrite").parquet(s"$path/codebooks")
  }

  /** The IVF-PQ layout under `path`, written by [[save]],
    * [[saveResidual]] and [[saveRotated]]: the codes partitioned by
    * cell through [[Ivf.writeCells]] (one file per cell, written at
    * `spark.sql.shuffle.partitions` width), then the centroid and
    * flattened codebook tables, then the rotation — or, for an
    * unrotated layout, the removal of any earlier `rotation/`, which
    * would otherwise make [[loadRotation]] and [[append]] rotate with a
    * matrix these codebooks were never trained in. */
  private def writeLayout(codes: DataFrame, cents: DataFrame, cbs: Seq[CentroidSet],
                          rotation: Option[Seq[Array[Double]]], path: String): Unit = {
    val spark = codes.sparkSession
    Ivf.writeCells(codes, "overwrite", s"$path/codes")
    cents.write.mode("overwrite").parquet(s"$path/centroids")
    writeCodebooks(spark, cbs, path)
    rotation match {
      case Some(rows) => writeRotation(spark, rows, path)
      case None =>
        val r = new org.apache.hadoop.fs.Path(s"$path/rotation")
        r.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(r, true)
    }
  }

  /** Persist the IVF-PQ index ([[writeLayout]]): the codes table
    * partitioned by coarse cell (so a probed search is a
    * partition-pruned scan of the 32× compressed representation) + the
    * centroid and flattened codebook tables — everything a reader needs
    * to run [[searchAdcCells]] without the source vectors. Re-saving
    * over a [[saveRotated]] path removes its rotation. */
  def save(vectors: DataFrame, step: Int, cbs: Seq[CentroidSet],
           path: String): Unit = {
    val cents = Ivf.centroids(vectors, step)
    writeLayout(encodeWithCell(vectors, cents, cbs), cents, cbs, None, path)
  }

  /** Persist a RESIDUAL IVF-PQ index — same on-disk layout as [[save]]
    * (codes partitioned by cell + centroids + flattened codebooks), the
    * codes being residual codes from [[encodeResidual]]. [[load]] reads
    * it back unchanged, and [[searchResidualCells]] over the loaded
    * tables is the persisted form of the best-recall compressed path —
    * the reference's serialize/deserialize capability (Program.cs:
    * 231-263) at the 100 TB layout. Returns the trained codebooks. */
  def saveResidual(vectors: DataFrame, step: Int, offset: Int, m: Int,
                   path: String): Seq[CentroidSet] = {
    val cents = Ivf.centroids(vectors, step)
    val cbs = residualCodebooks(vectors, cents, step, offset, m)
    writeLayout(encodeResidual(vectors, cents, cbs), cents, cbs, None, path)
    cbs
  }

  /** Persisted-index delta append — [[Ivf.append]]'s twin on the
    * compressed layout: encode a delta batch against the index's FROZEN
    * centroids and codebooks (loaded from `path`) and append the new
    * code rows under the existing `centroid_id` partition dirs. Before
    * this existed, adding vectors to a saved IVF-PQ index meant
    * re-encoding the whole corpus. If the layout carries a rotation
    * ([[saveRotated]]), the delta rotates through the same R first, so
    * readers keep rotating queries exactly as before. Work is O(delta):
    * one narrow argmin+encode pass and a partition append — resident
    * code files are never rewritten (nor read: only the centroid,
    * codebook and rotation tables load), each touched cell gains one
    * file ([[Ivf.writeCells]]), and searches prune to probed cells
    * exactly as before. Frozen quantizers are the standard IVF-PQ
    * maintenance trade (recall drifts as the corpus drifts, until a
    * periodic re-train = re-run [[save]]/[[saveRotated]]).
    *
    * Same DISJOINTNESS CONTRACT as [[Ivf.append]]: this is an append,
    * not an upsert — an already-resident vec_id gets a second code row.
    * Callers own id disjointness (a per-batch anti-join against the
    * resident codes would turn O(delta) maintenance into O(index)). */
  def append(spark: org.apache.spark.sql.SparkSession, path: String,
             delta: DataFrame): Unit = {
    val cbs = loadCodebooks(spark, path)
    val in = loadRotation(spark, path)
      .map(rows => rotateWith(delta, rows)).getOrElse(delta)
    Ivf.writeCells(encodeWithCell(in, Ivf.loadCentroids(spark, path), cbs),
      "append", s"$path/codes")
  }

  /** Load a persisted IVF-PQ index: (codes, centroids, codebooks) — the
    * [[Ivf.load]] contract on the codes layout. The codes are listed on
    * the driver ([[SqlBridge.listedParquet]]: no listing job past 32
    * cell directories) and the centroid table is a local relation
    * ([[Ivf.loadCentroids]]), so a literal [[searchAdcCells]] over the
    * loaded index runs one job. */
  def load(spark: org.apache.spark.sql.SparkSession,
           path: String): (DataFrame, DataFrame, Seq[CentroidSet]) = {
    val cbs = loadCodebooks(spark, path)
    (SqlBridge.listedParquet(spark, s"$path/codes"), Ivf.loadCentroids(spark, path), cbs)
  }

  private def loadCodebooks(spark: org.apache.spark.sql.SparkSession,
                            path: String): Seq[CentroidSet] = {
    val cbRows = spark.read.parquet(s"$path/codebooks")
      .select(col("subspace"), col("code"), col("sub_emb"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Any](2).map(widen).toArray))
      .groupBy(_._1)
    require(cbRows.keySet == (0 until cbRows.size).toSet,
      s"persisted codebooks missing subspaces: have ${cbRows.keySet.toSeq.sorted}, " +
        s"want 0..${cbRows.size - 1}")
    (0 until cbRows.size).map { j =>
      val rows = cbRows(j).sortBy(_._2)
      CentroidSet(rows.map(_._2), rows.map(_._3))
    }
  }

  /** ADC search over probed cells only — the composed IVF×PQ search:
    * probe the `nprobe` centroids nearest the query on the driver
    * ([[Ivf.probeCells]], one k-row collect when this is called), then
    * ADC-rerank ONLY the codes in probed cells. The codes are filtered
    * by the literal probed ids, so on the [[save]] layout the planner
    * prunes the codes scan to nprobe/k of its partitions statically,
    * and search cost is sublinear in corpus size AND reads the
    * 32×-compressed table: the reference's HNSW-search capability
    * (Program.cs:207-227) at the 100 TB layout. Dirty centroids (null,
    * off-dim, null or NaN element) never probe, the same drop as the
    * q48 oracle's cents guard and the batched path. */
  def searchAdcCells(codes: DataFrame, cents: DataFrame, cbs: Seq[CentroidSet],
                     query: DataFrame, nprobe: Int, k: Int): DataFrame = {
    val q = collectQuery(query)
    val dtabs = distTables(cbs, q)
    codes
      .where(col("centroid_id").isin(Ivf.probeCells(cents, Some(q), _ => nprobe): _*))
      .select(col("vec_id"), round(adcDist(dtabs), 6).as("approx_dist"))
      .orderBy(asc("approx_dist"), asc("vec_id"))
      .limit(k)
  }

  /** Batched PROBED search: a whole query table over the partitioned
    * codes, each query ADC-reranking only its own nprobe cells — the
    * billion-scale serving shape ([[Ivf.searchBatch]]'s contract on the
    * compressed layout). The centroid table collects once and each
    * query ranks it with [[Ivf.rankCells]], the ranking
    * [[searchAdcCells]] probes with, so every query probes the cells
    * its single-query search would; dist tables compute driver-side
    * per query (bounded: queries × centroids). The (query_id,
    * centroid_id) probe pairs broadcast-join the codes — each code row
    * fans out ONLY to the queries probing its cell — and the per-query
    * dist tables join by query_id. Per-query top-k through GroupedTopK: bounded heaps, no
    * sort. On the [[save]] layout the probe join prunes the codes scan
    * to the UNION of probed cells. */
  def searchAdcCellsBatch(codes: DataFrame, cents: DataFrame, cbs: Seq[CentroidSet],
                          queries: DataFrame, nprobe: Int, k: Int): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val (_, cells) = Ivf.collectProbe(cents)
    // same collected-query guard as [[searchAdcBatch]] (r8 advice)
    val qs = queries
      .where(col("query_id").isNotNull && cleanVec(col("qv"), subDim(cbs) * cbs.length))
      .select(col("query_id").cast("long"), col("qv")).collect()
      .map(r => (r.getLong(0), r.getSeq[Any](1).map(widen).toArray))
    val probed = qs.toSeq.flatMap { case (qid, qv) =>
      Ivf.rankCells(cells, qv, nprobe).map { case (cid, _) => (qid, cid) }
    }.toDF("query_id", "centroid_id")
    val qdt = qs.toSeq
      .map { case (qid, qv) => (qid, distTables(cbs, qv).map(_.toSeq)) }
      .toDF("query_id", "dts")
    val dist = cbs.indices.map(j =>
      element_at(element_at(col("dts"), j + 1), col(s"c$j").cast("int") + 1))
      .reduce(_ + _)
    graft.plans.GroupedTopK.topK(
      codes.join(broadcast(probed), "centroid_id")
        .join(broadcast(qdt), "query_id")
        .select(col("query_id"), col("vec_id"), round(dist, 6).as("approx_dist")),
      Seq(col("query_id")), Seq(col("approx_dist").asc, col("vec_id").asc), k)
      .orderBy("query_id", "approx_dist", "vec_id")
  }

  /** In-memory IVF-PQ search without persist (the oracle-checked q48
    * path): codes = [[encodeWithCell]] over the source vectors. */
  def searchIvfAdc(vectors: DataFrame, step: Int, cbs: Seq[CentroidSet],
                   query: DataFrame, nprobe: Int, k: Int): DataFrame = {
    val cents = Ivf.centroids(vectors, step)
    searchAdcCells(encodeWithCell(vectors, cents, cbs), cents, cbs, query, nprobe, k)
  }

  /** Per-cell quantization-error report (q82) — the codec-quality dial
    * beside [[Ivf.cellBalance]]'s occupancy dial: for every vector, the
    * total PQ reconstruction error Σ_j min_c ‖sub_j − cb_j[c]‖² (each
    * per-subspace term is exactly the round-6 distance the encode
    * argmin ranks by — [[graft.functions.NearestCentroid]]'s `dist`
    * field), aggregated per IVF cell as count/mean/max. A cell whose
    * mean error spikes tells you its region is under-represented in
    * codebook training BEFORE recall degrades in production; FAISS
    * exposes the same two dials as imbalance factor + quantization
    * error.
    *
    * Scale shape: map-only like encode itself — m+1 broadcast argmin
    * expressions per row (cell + m subspace distances), zero shuffles
    * until the cells-sized groupBy. Error aggregation is ORDER-FREE by
    * construction: each round-6 term converts to exact integer
    * micro-units (the q51 trick) and the per-cell sum/mean/max divide
    * exact integers, so double accumulation order can't flip a hash at
    * any partitioning. */
  def quantizationError(vectors: DataFrame, step: Int, m: Int): DataFrame = {
    import graft.functions.NearestCentroid
    val cents = Ivf.centroids(vectors, step)
    val cbs = codebooks(vectors, step, m)
    val cs = Ivf.collectCentroids(cents)
    val sub = subDim(cbs)
    val sc = vectors.sparkSession.sparkContext
    val cellCol = SqlBridge.column(NearestCentroid(
      SqlBridge.expression(col("embedding")), sc.broadcast(cs)))
      .getField("centroid_id").as("centroid_id")
    val errCols = cbs.zipWithIndex.map { case (cbj, j) =>
      round(SqlBridge.column(NearestCentroid(
        SqlBridge.expression(slice(col("embedding"), j * sub + 1, sub)),
        sc.broadcast(cbj))).getField("dist") * 1000000d)
        .cast("long").as(s"e$j")
    }
    val errU = (0 until cbs.length).map(j => col(s"e$j")).reduce(_ + _)
    vectors.where(encodable(cbs))
      .select(col("vec_id") +: cellCol +: errCols: _*)
      .select(col("centroid_id"), errU.as("err_u"))
      .groupBy("centroid_id")
      .agg(
        count(lit(1)).as("n_vectors"),
        round(sum("err_u").cast("double") / count(lit(1)) / 1000000d, 6)
          .as("mean_qerr"),
        round(max("err_u").cast("double") / 1000000d, 6).as("max_qerr"))
      .orderBy("centroid_id")
  }

  /** The ASSEMBLED production read path (q81): metadata pre-filter +
    * tombstone anti-join below the IVF-PQ probe, an ADC shortlist, then
    * exact re-rank of ONLY the shortlist against the raw vectors — what
    * a serving stack actually executes per query once filtering
    * ([[Ivf.searchInlineFiltered]]), deletes
    * ([[Ivf.searchInlineWithDeletes]]), compression ([[searchIvfAdc]])
    * and recall recovery ([[Bq.searchRerank]]'s re-rank stage) all hold
    * at once. Composition order is the load-bearing part:
    *
    *  - filter + anti-join apply BELOW the probe, so excluded rows are
    *    never ADC-scored and can't displace live candidates from the
    *    shortlist (post-filtering a fixed-k result under-fills it);
    *  - centroids and codebooks come from the FULL corpus — an index
    *    layout can't know future predicates or deletes, so probe
    *    geometry and code meanings are delete/filter-independent
    *    (rebuilding codebooks per predicate would also break the
    *    shared-layout batch contract);
    *  - the exact stage touches `shortlist` rows via broadcast join —
    *    full-precision float work is O(shortlist), not O(corpus), and
    *    re-ranking repairs ADC quantization error exactly where it
    *    matters (the final top-k boundary).
    *
    * Scale shape: one codes scan pruned to probed cells with the
    * predicate pushed below the encode, a ≤shortlist-row broadcast back
    * into the vectors scan (pruned to those vec_ids by row-group
    * stats), both stages ending in TakeOrderedAndProject. The dead set
    * broadcasts (tombstones are kB-scale by the [[Ivf.tombstone]]
    * contract — compaction folds them in before they grow). */
  def searchAdcFilteredRerank(vectors: DataFrame, step: Int, m: Int, pred: Column,
                              dead: DataFrame, query: DataFrame, nprobe: Int,
                              shortlist: Int, k: Int): DataFrame = {
    import graft.functions.VectorFunctions.l2Sq
    val cents = Ivf.centroids(vectors, step)
    val cbs = codebooks(vectors, step, m)
    val live = vectors.where(pred)
      .join(broadcast(dead.select("vec_id")), Seq("vec_id"), "left_anti")
    val cand = searchAdcCells(encodeWithCell(live, cents, cbs), cents, cbs,
      query, nprobe, shortlist).select("vec_id")
    vectors.join(broadcast(cand), "vec_id")
      .crossJoin(broadcast(query))
      .select(col("vec_id"), round(l2Sq(col("embedding"), col("qv")), 6).as("dist"))
      .orderBy(asc("dist"), asc("vec_id"))
      .limit(k)
  }

  // ------------------------------------------------------------------
  // Rotated PQ ("OPQ-lite"): orthogonally rotate vectors before
  // quantization so the energy spreads evenly across subspaces. Full
  // OPQ (Ge et al. 2013) LEARNS the rotation; the normalized Hadamard
  // rotation here is the standard cheap baseline (FAISS uses it to
  // initialize OPQ) and, being ±1/√dim with dim = 64, every matrix
  // entry is ±0.125 — exactly representable, so the whole pipeline
  // stays oracle-checkable. Rotation is an isometry: L2 distances are
  // preserved, so ADC distances over rotated codes approximate the
  // ORIGINAL distances.
  // ------------------------------------------------------------------

  /** Row i of the normalized Sylvester-Hadamard matrix: H[i][j] =
    * (−1)^popcount(i AND j) / √dim. Orthonormal and self-inverse for
    * any power-of-two dim; entries are exact dyadic rationals when dim
    * is a power of FOUR (64 → ±0.125). */
  def hadamard(dim: Int): Seq[Array[Double]] = {
    require(dim > 0 && (dim & (dim - 1)) == 0, s"Hadamard needs power-of-2 dim, got $dim")
    val scale = 1.0 / math.sqrt(dim.toDouble)
    (0 until dim).map { i =>
      Array.tabulate(dim) { j =>
        if (Integer.bitCount(i & j) % 2 == 0) scale else -scale
      }
    }
  }

  /** Rotate an embedding table: out[i] = dot(v, H_i) through the
    * codegen'd [[graft.functions.DotProduct]] kernel per output
    * dimension, left-to-right accumulation — the exact expression tree
    * an ANSI oracle mirrors with list_sum(list_transform(list_zip)).
    * (A butterfly FWHT would be O(dim log dim) instead of O(dim²) but
    * sums in a different association order — float addition is not
    * associative, and cross-engine exactness is worth 4 096 codegen'd
    * flops per row.) Narrow, zero shuffles; dirty rows drop on the raw
    * column as everywhere else. Output column is named `embedding` so
    * the whole PQ family composes unchanged. */
  def rotate(vectors: DataFrame, dim: Int): DataFrame = {
    import graft.functions.VectorFunctions.dot
    val rcol = array(hadamard(dim).map(h => dot(col("embedding"), typedlit(h.toSeq))): _*)
    vectors.where(cleanVec(col("embedding"), dim))
      .select(col("vec_id"), rcol.as("embedding"))
  }

  /** Rotate an embedding table with an ARBITRARY orthogonal matrix
    * (rows = output dims) — the learned-rotation entry point; plan
    * shape identical to [[rotate]]. */
  def rotateWith(vectors: DataFrame, rows: Seq[Array[Double]]): DataFrame = {
    import graft.functions.VectorFunctions.dot
    val dim = rows.head.length
    val rcol = array(rows.map(h => dot(col("embedding"), typedlit(h.toSeq))): _*)
    vectors.where(cleanVec(col("embedding"), dim))
      .select(col("vec_id"), rcol.as("embedding"))
  }

  /** Rotate a 1-row query frame (column `qv`) with the same matrix. */
  def rotateQuery(query: DataFrame, dim: Int): DataFrame =
    rotateQueryWith(query, hadamard(dim))

  /** [[rotateQuery]] for an arbitrary rotation. */
  def rotateQueryWith(query: DataFrame, rows: Seq[Array[Double]]): DataFrame = {
    import graft.functions.VectorFunctions.dot
    val rcol = array(rows.map(h => dot(col("qv"), typedlit(h.toSeq))): _*)
    query.select(rcol.as("qv"))
  }

  /** A learned OPQ model: the rotation R (row-major), the per-iteration
    * training error, and the jointly-trained per-subspace codebooks
    * (dense code ids 0..k-1, in the FINAL rotated space). The codebooks
    * are part of the model — OPQ optimizes rotation and quantizer
    * TOGETHER, so encoding rotated vectors against independently-chosen
    * codebooks (e.g. stride rows) discards half the training and
    * measurably loses recall (panel-measured 0.25 vs 0.32 against the
    * Hadamard baseline before this field existed). */
  final case class OpqModel(rows: Seq[Array[Double]], errors: Seq[Double],
                            codebooks: Seq[CentroidSet])

  /** Full OPQ (Ge et al. 2013, non-parametric solution): LEARN the
    * rotation by alternating (a) quantize the rotated training sample
    * with per-subspace k-means codebooks and (b) solve the orthogonal
    * Procrustes problem min_Ω ‖XΩ − X̂‖_F = UVᵀ from the SVD of XᵀX̂
    * (Spark's own breeze does the 64×64 SVD). Seeded from the
    * [[hadamard]] rotation — exactly how FAISS initializes OPQ.
    *
    * Scale contract: training runs DRIVER-SIDE over a bounded sample
    * (rows with vec_id % sampleStride == 0 — quantizer fitting needs
    * ~1k vectors per code, never the corpus; the same bounded-collect
    * contract as [[codebooks]] and BPE training). Production encode
    * then applies the learned R with [[rotateWith]] — the narrow
    * codegen'd pipeline, corpus-scale. Training error (mean squared
    * reconstruction error per sample row) is returned per iteration;
    * the alternation is monotone non-increasing by construction: the
    * Procrustes step minimizes the shared objective over R with the
    * codebooks fixed, and the k-means step WARM-STARTS from the
    * previous iteration's codebooks (a re-seeded k-means could land at
    * a worse local optimum and break the descent argument — r8 advice)
    * so each half-step can only lower the objective — spec-asserted. */
  def learnRotation(vectors: DataFrame, sampleStride: Int, m: Int,
                    iters: Int, dim: Int = 64, k: Int = 16): OpqModel = {
    import breeze.linalg.{svd, DenseMatrix}
    require(dim % m == 0, s"dim $dim not divisible by $m subspaces")
    val sub = dim / m
    val x: Array[Array[Double]] = vectors
      .where(cleanVec(col("embedding"), dim))
      .filter(pmod(col("vec_id"), lit(sampleStride.toLong)) === 0)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Any](1).map(widen).toArray)
    require(x.nonEmpty, "empty training sample")
    var r = hadamard(dim).map(_.clone).toArray

    def rotated(v: Array[Double]): Array[Double] =
      Array.tabulate(dim) { i =>
        var acc = 0.0; var j = 0
        while (j < dim) { acc += r(i)(j) * v(j); j += 1 }
        acc
      }
    // deterministic per-subspace k-means on the rotated sample;
    // `init` warm-starts from the previous outer iteration's codebooks
    // (first iteration seeds from the deterministic sample stride)
    def codebook(xr: Array[Array[Double]], j: Int,
                 init: Option[Array[Array[Double]]]): Array[Array[Double]] = {
      val pts = xr.map(v => java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub))
      val kk = math.min(k, pts.length)
      var cents = init.getOrElse(Array.tabulate(kk)(i => pts(i * pts.length / kk).clone))
      for (_ <- 0 until 8) {
        val sums = Array.fill(kk)(new Array[Double](sub))
        val counts = new Array[Int](kk)
        pts.foreach { p =>
          var bi = 0; var bd = Double.MaxValue
          for (c <- 0 until kk) {
            var d = 0.0; var t = 0
            while (t < sub) { val e = p(t) - cents(c)(t); d += e * e; t += 1 }
            if (d < bd) { bd = d; bi = c }
          }
          counts(bi) += 1
          for (t <- 0 until sub) sums(bi)(t) += p(t)
        }
        cents = Array.tabulate(kk)(c =>
          if (counts(c) == 0) cents(c)
          else Array.tabulate(sub)(t => sums(c)(t) / counts(c)))
      }
      cents
    }
    val errors = Seq.newBuilder[Double]
    var prevCbs: Option[IndexedSeq[Array[Array[Double]]]] = None
    for (_ <- 0 until iters) {
      val xr = x.map(rotated)
      val cbs = (0 until m).map(j => codebook(xr, j, prevCbs.map(_(j))))
      prevCbs = Some(cbs)
      // reconstruction of each rotated sample row from its codes
      val xhat = xr.map { v =>
        val out = new Array[Double](dim)
        for (j <- 0 until m) {
          var bi = 0; var bd = Double.MaxValue
          cbs(j).zipWithIndex.foreach { case (c, ci) =>
            var d = 0.0; var t = 0
            while (t < sub) { val e = v(j * sub + t) - c(t); d += e * e; t += 1 }
            if (d < bd) { bd = d; bi = ci }
          }
          System.arraycopy(cbs(j)(bi), 0, out, j * sub, sub)
        }
        out
      }
      errors += x.indices.map { i =>
        xr(i).zip(xhat(i)).map { case (a, b) => (a - b) * (a - b) }.sum
      }.sum / x.length
      // Procrustes: Ω = U·Vᵀ of svd(Xᵀ·X̂) minimizes ‖XΩ − X̂‖_F; the
      // rotation rows are R = Ωᵀ (rotate() computes y_i = dot(v, row_i))
      val mtx = DenseMatrix.zeros[Double](dim, dim)
      for (i <- x.indices; a <- 0 until dim; b <- 0 until dim)
        mtx(a, b) += x(i)(a) * xhat(i)(b)
      val s = svd(mtx)
      val omega = s.U * s.Vt
      r = Array.tabulate(dim)(i => Array.tabulate(dim)(j => omega(j, i)))
    }
    // one closing codebook half-step in the FINAL rotated space (the
    // loop ends on a Procrustes step, which moved R after the last
    // k-means ran) — these are the codebooks the model ships
    val xrF = x.map(rotated)
    val finalCbs = (0 until m).map(j => codebook(xrF, j, prevCbs.map(_(j))))
    OpqModel(r.toSeq, errors.result(),
      finalCbs.map(cb => CentroidSet(cb.indices.map(_.toLong).toArray, cb)))
  }

  /** Rotated-PQ flat ADC search (q61): codebooks/encode/search all run
    * over the rotated table, the query rotates once — because rotation
    * is an isometry the returned approx dists approximate the original
    * L2 dists. Same plan shape as [[searchAdc]]: one narrow scan with
    * literal lookup tables, TakeOrderedAndProject. */
  def searchRotated(vectors: DataFrame, step: Int, m: Int, query: DataFrame,
                    k: Int, dim: Int = 64): DataFrame = {
    val rot = rotate(vectors, dim)
    val cbs = codebooks(rot, step, m)
    searchAdc(encode(rot, cbs), cbs, rotateQuery(query, dim), k)
  }

  /** Flat ADC search with a learned OPQ model — the assembled
    * production path (q61b): train once with [[learnRotation]], then
    * rotateWith(R) → encode against the model's OWN trained codebooks →
    * searchAdc, the query rotated by the same R. Plan shape is
    * identical to the Hadamard path (q61); the difference is that both
    * halves of the trained model are used — encoding the rotated
    * vectors against independently-derived stride codebooks instead
    * measurably lost recall (see [[OpqModel]]). */
  def searchRotatedWith(vectors: DataFrame, model: OpqModel,
                        query: DataFrame, k: Int): DataFrame = {
    val rot = rotateWith(vectors, model.rows)
    searchAdc(encode(rot, model.codebooks), model.codebooks,
      rotateQueryWith(query, model.rows), k)
  }

  private def writeRotation(spark: org.apache.spark.sql.SparkSession,
                            rows: Seq[Array[Double]], path: String): Unit = {
    import spark.implicits._
    rows.zipWithIndex.map { case (r, i) => (i, r.toSeq) }
      .toDF("row_idx", "r")
      .write.mode("overwrite").parquet(s"$path/rotation")
  }

  /** Persist a ROTATED (OPQ) IVF-PQ index: [[save]]'s layout (codes
    * partitioned by coarse cell + centroids + codebooks) plus a
    * `rotation` table holding R's rows. Centroids, codebooks, and codes
    * all live in the ROTATED space; the matrix is what a reader needs
    * to bring queries into that space, so persisting it completes the
    * reference's serialize → deserialize → KNNSearch loop
    * (Program.cs:231-263,216) for the learned-rotation path: [[load]] +
    * [[loadRotation]] + [[searchRotatedCells]] answer queries with no
    * access to the source vectors or the training pipeline. Returns the
    * trained codebooks. */
  def saveRotated(vectors: DataFrame, step: Int, model: OpqModel,
                  path: String): Seq[CentroidSet] = {
    val rot = rotateWith(vectors, model.rows)
    val cents = Ivf.centroids(rot, step)
    writeLayout(encodeWithCell(rot, cents, model.codebooks), cents, model.codebooks,
      Some(model.rows), path)
    model.codebooks
  }

  /** The rotation matrix persisted by [[saveRotated]], row-major —
    * `None` when the index was last written without one ([[save]] /
    * [[saveResidual]] remove an earlier rotation, see [[writeLayout]]),
    * so readers can dispatch on the layout: rotate the query iff the
    * index is rotated. */
  def loadRotation(spark: org.apache.spark.sql.SparkSession,
                   path: String): Option[Seq[Array[Double]]] =
    try {
      val rows = spark.read.parquet(s"$path/rotation")
        .select(col("row_idx"), col("r")).collect()
        .map(r => (r.getInt(0), r.getSeq[Any](1).map(widen).toArray))
        .sortBy(_._1).map(_._2).toSeq
      if (rows.isEmpty) None else Some(rows)
    } catch {
      case _: org.apache.spark.sql.AnalysisException => None
    }

  /** Probed ADC search over a rotated persisted index: the query
    * rotates with the index's own matrix, then [[searchAdcCells]] runs
    * unchanged — rotation is an isometry, so approx dists still
    * approximate the ORIGINAL L2 distances. */
  def searchRotatedCells(codes: DataFrame, cents: DataFrame,
                         cbs: Seq[CentroidSet], rows: Seq[Array[Double]],
                         query: DataFrame, nprobe: Int, k: Int): DataFrame =
    searchAdcCells(codes, cents, cbs, rotateQueryWith(query, rows), nprobe, k)

  // ------------------------------------------------------------------
  // Residual IVF-PQ (Jégou et al. 2011 §IV.B, the FAISS IVFPQ layout):
  // quantize v − centroid(v) instead of v. Residuals concentrate near 0
  // (the coarse quantizer already removed the cell mean), so the same
  // m×k code budget spends its resolution on a much smaller ball —
  // strictly better recall than raw-vector PQ at identical storage.
  // ------------------------------------------------------------------

  /** (vec_id, centroid_id, residual = v − its cell centroid): cell
    * assignment rides [[Ivf.assignWithEmbedding]]'s zero-shuffle argmin,
    * the centroid embedding joins back by BROADCAST (kB-scale build
    * side), and the subtraction is the codegen'd
    * [[graft.functions.VectorSub]] — one narrow pass end to end.
    * Residuals are non-null by construction: unassignable vectors were
    * dropped by assignment, and a dirty centroid can never win it. */
  private[operators] def residualRows(vectors: DataFrame, cents: DataFrame): DataFrame =
    Ivf.assignWithEmbedding(vectors, cents)
      // assignment already dropped unassignables, but Catalyst can't see
      // that: an inner join on the nullable argmin projection inserts
      // isnotnull(nearest_centroid(...)) and the whole argmin runs TWICE
      // per row (the double-eval trap, see Ivf.assignable). Coalescing
      // the key to a sentinel makes it non-nullable; -1 matches no
      // centroid, so semantics are unchanged.
      .withColumn("centroid_id", coalesce(col("centroid_id"), lit(-1L)))
      .join(broadcast(cents.select(col("centroid_id"), col("c_emb"))), "centroid_id")
      .select(col("vec_id"), col("centroid_id"),
        graft.functions.VectorFunctions.vecSub(col("embedding"), col("c_emb")).as("residual"))

  /** Residual codebooks: per-subspace codebooks trained on the
    * RESIDUALS of the stride rows `vec_id % step == offset`. The offset
    * must differ from the coarse-centroid phase (0): a row that IS a
    * centroid has residual exactly 0 and would collapse every codebook
    * to the origin. Code ids are dense ranks in stride order, same
    * contract as [[codebooks]]. */
  def residualCodebooks(vectors: DataFrame, cents: DataFrame, step: Int,
                        offset: Int, m: Int): Seq[CentroidSet] = {
    require(offset % step != 0, s"offset $offset is the centroid phase of step $step")
    val rows = residualRows(vectors, cents)
      .filter(pmod(col("vec_id"), lit(step.toLong)) === offset)
      .select(col("vec_id"), col("residual"))
      .collect()
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .sortBy(_.getLong(0))
      .map(_.getSeq[Any](1).map(widen).toArray)
    sliceCodebooks(rows, m)
  }

  /** Residual PQ encode: vec_id, centroid_id, c0…c{m-1} where each code
    * is a [[NearestCentroid]] argmin of the RESIDUAL's subspace slice
    * over the broadcast residual codebook. The whole chain — assignment
    * argmin, centroid join-back (broadcast, kB build side), VectorSub,
    * m slice-argmins — is codegen'd with NO shuffle exchange; PqSpec
    * asserts the plan shape and the absence of argmin double-eval. */
  def encodeResidual(vectors: DataFrame, cents: DataFrame,
                     cbs: Seq[CentroidSet]): DataFrame = {
    val sub = subDim(cbs)
    val sc = vectors.sparkSession.sparkContext
    val rcols = cbs.zipWithIndex.map { case (cs, j) =>
      SqlBridge.column(NearestCentroid(
        SqlBridge.expression(slice(col("residual"), j * sub + 1, sub)),
        sc.broadcast(cs))).getField("centroid_id").as(s"c$j")
    }
    residualRows(vectors, cents).select(col("vec_id") +: col("centroid_id") +: rcols: _*)
  }

  /** Residual ADC search over probed cells: the lookup tables are built
    * from the PER-CELL residual query q − centroid (that is the point of
    * residual PQ — the tables change per probed cell), so the scan-side
    * distance is a `centroid_id`-dispatched table sum: nprobe × m
    * literal-array lookups, still inside whole-stage codegen. The probe
    * is [[Ivf.rankCells]] — the cells [[Ivf.probeCells]] returns, with
    * the centroid vectors the residual query subtracts. */
  def searchResidualCells(codes: DataFrame, cents: DataFrame, cbs: Seq[CentroidSet],
                          query: DataFrame, nprobe: Int, k: Int): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val q = collectQuery(query)
    val probed = Ivf.rankCells(Ivf.collectProbe(cents)._2, q, nprobe)
    val dist = probed.foldLeft(lit(null).cast("double")) { case (acc, (cid, ce)) =>
      val qr = Array.tabulate(q.length)(i => q(i) - ce(i))
      when(col("centroid_id") === cid, adcDist(distTables(cbs, qr))).otherwise(acc)
    }
    val probedDf = probed.map(_._1).toSeq.toDF("centroid_id")
    codes
      .join(broadcast(probedDf), "centroid_id")
      .select(col("vec_id"), round(dist, 6).as("approx_dist"))
      .orderBy(asc("approx_dist"), asc("vec_id"))
      .limit(k)
  }

  /** In-memory residual IVF-PQ search (the oracle-checked q57 path). */
  def searchResidualIvfAdc(vectors: DataFrame, step: Int, cbs: Seq[CentroidSet],
                           query: DataFrame, nprobe: Int, k: Int): DataFrame = {
    val cents = Ivf.centroids(vectors, step)
    searchResidualCells(encodeResidual(vectors, cents, cbs), cents, cbs, query, nprobe, k)
  }
}
