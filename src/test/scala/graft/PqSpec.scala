package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._
import graft.operators.{Knn, Pq}

/** Round-5 product quantization: codebook shape, encode/search
  * correctness, ADC≡exact degenerate case, recall floor. */
class PqSpec extends SparkSpec {

  private lazy val emb001 = spark.read.parquet(s"$sf001/embeddings.parquet")
  private lazy val emb0001 = spark.read.parquet(s"$sf0001/embeddings.parquet")

  test("codebooks: m subspaces of dim/m, contiguous code ids") {
    val cbs = Pq.codebooks(emb0001, step = 25, m = 8)
    assert(cbs.length == 8)
    assert(cbs.forall(_.mat.forall(_.length == 8)))
    val ids = cbs.head.cids.toSeq
    assert(ids == ids.sorted && ids.distinct == ids)
    assert(cbs.forall(_.cids.toSeq == ids))
  }

  test("encode: one in-range code per subspace, no shuffle in the plan") {
    val cbs = Pq.codebooks(emb0001, step = 25, m = 8)
    val enc = Pq.encode(emb0001, cbs)
    val maxCode = cbs.head.cids.max
    val rows = enc.collect()
    assert(rows.length == emb0001.count())
    (0 until 8).foreach { j =>
      assert(rows.forall { r =>
        val c = r.getLong(r.fieldIndex(s"c$j")); c >= 0 && c <= maxCode
      })
    }
    assert(!enc.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("a codebook-source query returns itself at approx_dist 0") {
    // vec 0 seeds code 0 of every subspace, so its own codes are exact
    // and every lookup-table entry it touches is 0
    val cbs = Pq.codebooks(emb001, step = 25, m = 8)
    val top = Pq.searchAdc(Pq.encode(emb001, cbs), cbs,
      Knn.queryVector(emb001, 0L), 1).collect()
    assert(top.head.getLong(0) == 0L && top.head.getDouble(1) == 0.0)
  }

  test("stride-1 codebooks degenerate ADC to exact L2 (rounding-bounded)") {
    // step=1: every vector is its own codebook entry per subspace, so
    // the quantization error is 0 and approx = Σ_j round6(subdist_j),
    // within m*5e-7 of the exact one-shot distance
    val cbs = Pq.codebooks(emb0001, step = 1, m = 8)
    val q = Knn.queryVector(emb0001, 0L)
    val adc = Pq.searchAdc(Pq.encode(emb0001, cbs), cbs, q, Int.MaxValue)
    val exact = emb0001.crossJoin(broadcast(q))
      .select(col("vec_id"), l2Sq(col("embedding"), col("qv")).as("d"))
    val diff = adc.join(exact, "vec_id")
      .select(max(abs(col("approx_dist") - col("d"))).as("m")).collect()
    assert(diff.head.getDouble(0) <= 1e-5)
  }

  test("dirty rows (null / off-dim / null-element) never enter codes or ADC top-k") {
    val base = emb0001.limit(1)
    val nullEmb = base.select(lit(9001L).as("vec_id"),
      lit(null).cast("array<float>").as("embedding"), lit(0).as("label"))
    val offDim = base.select(lit(9002L).as("vec_id"),
      slice(col("embedding"), 1, 8).as("embedding"), lit(0).as("label"))
    val nullElem = base.select(lit(9003L).as("vec_id"),
      expr("transform(embedding, (x, i) -> IF(i = 3, CAST(NULL AS FLOAT), x))")
        .as("embedding"), lit(0).as("label"))
    val dirty = emb0001.select("vec_id", "embedding", "label")
      .union(nullEmb).union(offDim).union(nullElem)
    val cbs = Pq.codebooks(dirty, step = 25, m = 8)
    val enc = Pq.encode(dirty, cbs)
    val ids = enc.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(!ids.exists(_ >= 9000L), "a dirty row received PQ codes")
    assert(ids.size == emb0001.count(), "a clean row was dropped")
    // were a dirty row encoded, its null approx_dist would sort NULLS
    // FIRST and steal the whole top-k
    val top = Pq.searchAdc(enc, cbs, Knn.queryVector(dirty, 0L), 5).collect()
    assert(top.forall(r => !r.isNullAt(1)), "null approx_dist in top-k")
  }

  test("a null-element STRIDE row drops identically from codebooks, cents, and codes") {
    // Poison vec 25 — a codebook/centroid seed — with one null element.
    // The whole chain (codebook row, coarse centroid, code row) must
    // treat it as absent, so search results equal the row-removed corpus.
    val poison = expr("transform(embedding, (x, i) -> IF(i = 3, CAST(NULL AS FLOAT), x))")
    val poisoned = emb0001.select(col("vec_id"),
      when(col("vec_id") === 25L, poison).otherwise(col("embedding")).as("embedding"),
      col("label"))
    val cleansed = emb0001.filter(col("vec_id") =!= 25L)
    val q = Knn.queryVector(emb0001, 0L)
    def run(v: org.apache.spark.sql.DataFrame) =
      Pq.searchIvfAdc(v, 25, Pq.codebooks(v, 25, 8), q, 4, 20)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(run(poisoned) == run(cleansed))
  }

  test("IVF-PQ composed search recall@20 clears the pruned-ADC floor") {
    val cbs = Pq.codebooks(emb001, step = 25, m = 8)
    val q = Knn.queryVector(emb001, 0L)
    val ivfpqIds = Pq.searchIvfAdc(emb001, 25, cbs, q, 4, 20)
      .collect().map(_.getLong(0)).toSet
    val exactIds = emb001.crossJoin(broadcast(q))
      .select(col("vec_id"), l2Sq(col("embedding"), col("qv")).as("d"))
      .orderBy(asc("d"), asc("vec_id")).limit(20)
      .collect().map(_.getLong(0)).toSet
    val recall = (ivfpqIds & exactIds).size / 20.0
    assert(recall >= 0.3, s"recall@20 = $recall") // pruning can only lose vs flat ADC's 0.45
    // full probe degenerates to the flat ADC scan: identical result sets
    val nCents = emb001.filter(col("vec_id") % 25 === 0).count().toInt
    val full = Pq.searchIvfAdc(emb001, 25, cbs, q, nCents, 20)
      .collect().map(_.getLong(0)).toSet
    val flat = Pq.searchAdc(Pq.encode(emb001, cbs), cbs, q, 20)
      .collect().map(_.getLong(0)).toSet
    assert(full == flat, "full-probe IVF-PQ != flat ADC")
  }

  test("persisted IVF-PQ search prunes code partitions to probed cells") {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivfpq_planspec"
    Pq.save(emb0001, 25, Pq.codebooks(emb0001, step = 25, m = 8), path)
    val (codes, cents, cbs) = Pq.load(spark, path)
    val q = Knn.queryVector(emb0001, 0L)
    // at 100 TB this is the difference between reading nprobe cell
    // directories of the 32x-compressed table and scanning all of it
    val (read, probed) = IvfSpec.filesReadVsProbed(
      Pq.searchAdcCells(codes, cents, cbs, q, 2, 20), s"$path/codes", cents, q, 2)
    assert(read > 0 && read <= probed,
      s"codes scan read $read files; the 2 probed cells hold $probed")
  }

  test("ADC recall@20 vs exact L2 clears the coarse-codebook floor") {
    val cbs = Pq.codebooks(emb001, step = 25, m = 8)
    val q = Knn.queryVector(emb001, 0L)
    val adcIds = Pq.searchAdc(Pq.encode(emb001, cbs), cbs, q, 20)
      .collect().map(_.getLong(0)).toSet
    val exactIds = emb001.crossJoin(broadcast(q))
      .select(col("vec_id"), l2Sq(col("embedding"), col("qv")).as("d"))
      .orderBy(asc("d"), asc("vec_id")).limit(20)
      .collect().map(_.getLong(0)).toSet
    val recall = (adcIds & exactIds).size / 20.0
    assert(recall >= 0.4, s"recall@20 = $recall") // measured 0.45, deterministic
  }

  test("Lloyd-refined codebooks keep or beat stride recall@20 (production default)") {
    val cbs = Pq.codebooks(emb001, step = 25, m = 8)
    val q = Knn.queryVector(emb001, 0L)
    val exactIds = emb001.crossJoin(broadcast(q))
      .select(col("vec_id"), l2Sq(col("embedding"), col("qv")).as("d"))
      .orderBy(asc("d"), asc("vec_id")).limit(20)
      .collect().map(_.getLong(0)).toSet
    def recall(c: Seq[graft.functions.CentroidSet]): Double = {
      val ids = Pq.searchAdc(Pq.encode(emb001, c), c, q, 20)
        .collect().map(_.getLong(0)).toSet
      (ids & exactIds).size / 20.0
    }
    val stride = recall(cbs)
    val refined = recall(Pq.refineCodebooks(emb001, cbs, iters = 2))
    // deterministic corpus + deterministic Lloyd: measured 0.45 -> 0.55
    assert(refined >= stride, s"refined $refined < stride $stride")
  }

  test("residual codebooks: m subspaces, dense ranks, centroid-phase offset rejected") {
    val cents = graft.operators.Ivf.centroids(emb0001, 25)
    val cbs = Pq.residualCodebooks(emb0001, cents, step = 25, offset = 12, m = 8)
    assert(cbs.length == 8)
    assert(cbs.forall(_.mat.forall(_.length == 8)))
    val ids = cbs.head.cids.toSeq
    assert(ids == ids.indices.map(_.toLong), "codes must be dense ranks")
    intercept[IllegalArgumentException] {
      Pq.residualCodebooks(emb0001, cents, step = 25, offset = 0, m = 8)
    }
  }

  test("residual encode: zero-shuffle plan, codes in range, centroid rows quantize to ~0") {
    val cents = graft.operators.Ivf.centroids(emb0001, 25)
    val cbs = Pq.residualCodebooks(emb0001, cents, step = 25, offset = 12, m = 8)
    val enc = Pq.encodeResidual(emb0001, cents, cbs)
    val plan = enc.queryExecution.executedPlan.toString
    // the centroid join-back is a BroadcastExchange (kB build side, fine
    // at any scale) — what must NOT appear is a shuffle, or the argmin
    // double-eval filter an inner join on a nullable key would insert
    assert(!plan.contains("Exchange hashpartitioning") &&
      !plan.contains("Exchange rangepartitioning"),
      s"residual encode must not shuffle:\n$plan")
    assert(!plan.contains("isnotnull(nearest_centroid"),
      s"argmin double-eval filter crept into the plan:\n$plan")
    val maxCode = cbs.head.cids.max
    val rows = enc.collect()
    assert(rows.length == emb0001.count())
    (0 until 8).foreach { j =>
      assert(rows.forall { r =>
        val c = r.getLong(2 + j); c >= 0 && c <= maxCode
      })
    }
  }

  test("Hadamard rotation: exactly orthonormal rows, isometry to 1e-6, self-inverse") {
    val h = Pq.hadamard(64)
    // dyadic entries -> exact dot products: 1.0 on the diagonal, 0.0 off
    for (i <- 0 until 64; j <- i until 64 by 7) {
      val d = h(i).zip(h(j)).map { case (a, b) => a * b }.sum
      assert(d == (if (i == j) 1.0 else 0.0), s"H rows $i,$j dot $d")
    }
    import graft.operators.Knn
    val q = Knn.queryVector(emb0001, 0L)
    val v = q.collect().head.getSeq[Any](0).map {
      case f: Float => f.toDouble
      case d: Double => d
    }.toArray
    def mul(x: Array[Double]) = h.map(row => row.zip(x).map { case (a, b) => a * b }.sum).toArray
    val r = mul(v)
    assert(math.abs(math.sqrt(r.map(x => x * x).sum) - math.sqrt(v.map(x => x * x).sum)) < 1e-9,
      "rotation must preserve the norm")
    val back = mul(r) // normalized Sylvester-Hadamard is self-inverse
    v.zip(back).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9) }
  }

  test("rotated-PQ search recall@20 stays in the plain-PQ band (isometry)") {
    val q = Knn.queryVector(emb001, 0L)
    val exactIds = emb001.crossJoin(broadcast(q))
      .select(col("vec_id"), l2Sq(col("embedding"), col("qv")).as("d"))
      .orderBy(asc("d"), asc("vec_id")).limit(20)
      .collect().map(_.getLong(0)).toSet
    val cbs = Pq.codebooks(emb001, step = 25, m = 8)
    val rawIds = Pq.searchAdc(Pq.encode(emb001, cbs), cbs, q, 20)
      .collect().map(_.getLong(0)).toSet
    val rotIds = Pq.searchRotated(emb001, 25, 8, q, 20)
      .collect().map(_.getLong(0)).toSet
    val raw = (rawIds & exactIds).size / 20.0
    val rot = (rotIds & exactIds).size / 20.0
    info(s"raw PQ recall@20 = $raw, rotated = $rot")
    // this corpus is isotropic (uniform random), so rotation can't
    // systematically help — the claim is it doesn't HURT beyond
    // quantization noise; on anisotropic data it's the OPQ win
    assert(rot >= raw - 0.2, s"rotated recall $rot collapsed vs raw $raw")
  }

  test("batched probed search == per-query searchAdcCells for every query") {
    import graft.operators.Ivf
    val cbs = Pq.codebooks(emb0001, 25, 8)
    val cents = Ivf.centroids(emb0001, 25)
    val codes = Pq.encodeWithCell(emb0001, cents, cbs)
    val qids = Seq(0L, 7L, 42L)
    val queries = emb0001.where(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val batch = Pq.searchAdcCellsBatch(codes, cents, cbs, queries, 4, 10).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(r => (r.getLong(1), r.getDouble(2))).toSeq).toMap
    assert(batch.keySet == qids.toSet)
    qids.foreach { qid =>
      val single = Pq.searchAdcCells(codes, cents, cbs,
          emb0001.where(col("vec_id") === qid).select(col("embedding").as("qv")), 4, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(qid) === single, s"query $qid diverged from single-query probed ADC")
    }
  }

  test("NaN-element centroid: single and batched probed ADC agree at the nprobe boundary") {
    import graft.operators.Ivf
    val cbs = Pq.codebooks(emb0001, 25, 8)
    val cents = Ivf.centroids(emb0001, 25)
    val codes = Pq.encodeWithCell(emb0001, cents, cbs) // codes from the CLEAN set
    val poisoned = cents.select(col("centroid_id"),
      when(col("centroid_id") === 1L,
        expr("transform(c_emb, (x, i) -> IF(i = 3, CAST('NaN' AS FLOAT), x))"))
        .otherwise(col("c_emb")).as("c_emb"))
    // full probe: a rank-last NaN cell would fill the final slot on a
    // path that ranks instead of excludes — the r8 single/batch asymmetry
    val nprobeAll = cents.count().toInt
    val qids = Seq(0L, 7L)
    val queries = emb0001.where(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val batch = Pq.searchAdcCellsBatch(codes, poisoned, cbs, queries, nprobeAll, 10)
      .collect().groupBy(_.getLong(0)).view
      .mapValues(_.map(r => (r.getLong(1), r.getDouble(2))).toSeq).toMap
    qids.foreach { qid =>
      val single = Pq.searchAdcCells(codes, poisoned, cbs,
          emb0001.where(col("vec_id") === qid).select(col("embedding").as("qv")),
          nprobeAll, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(qid) === single, s"query $qid: batch/single diverged on a NaN centroid")
    }
    // and the unified rule is EXCLUSION: both equal the cell-removed run
    val want = Pq.searchAdcCells(codes, cents.filter(col("centroid_id") =!= 1L), cbs,
        emb0001.where(col("vec_id") === 0L).select(col("embedding").as("qv")), nprobeAll, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(batch(0L) === want, "NaN centroid was probed rather than excluded")
  }

  test("NaN-element query: single and batched probed ADC answer it (NaN distances, id order)") {
    import graft.operators.Ivf
    val cbs = Pq.codebooks(emb0001, 25, 8)
    val cents = Ivf.centroids(emb0001, 25)
    val codes = Pq.encodeWithCell(emb0001, cents, cbs)
    val nanQ = emb0001.where(col("vec_id") === 0L).select(
      expr("transform(embedding, (x, i) -> IF(i = 3, CAST('NaN' AS FLOAT), x))").as("qv"))
    // every distance is NaN, so probing and ranking fall back to id order
    val single = Pq.searchAdcCells(codes, cents, cbs, nanQ, 2, 5).collect()
    assert(single.length == 5 && single.forall(_.getDouble(1).isNaN))
    val batch = Pq.searchAdcCellsBatch(codes, cents, cbs,
        nanQ.select(lit(0L).as("query_id"), col("qv")), 2, 5).collect()
    assert(batch.map(_.getLong(1)).toSeq == single.map(_.getLong(0)).toSeq)
    assert(batch.forall(_.getDouble(2).isNaN))
  }

  test("batch search drops dirty query rows (null / off-dim qv) instead of NPEing the driver") {
    import graft.operators.Ivf
    val cbs = Pq.codebooks(emb0001, 25, 8)
    val base = emb0001.limit(1)
    val queries = emb0001.where(col("vec_id") === 0L)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .union(base.select(lit(98L).as("query_id"),
        lit(null).cast("array<float>").as("qv")))
      .union(base.select(lit(99L).as("query_id"),
        slice(col("embedding"), 1, 8).as("qv")))
    val flat = Pq.searchAdcBatch(Pq.encode(emb0001, cbs), cbs, queries, 5)
      .collect().map(_.getLong(0)).toSet
    assert(flat == Set(0L), s"flat batch answered dirty queries: $flat")
    val cents = Ivf.centroids(emb0001, 25)
    val probed = Pq.searchAdcCellsBatch(
        Pq.encodeWithCell(emb0001, cents, cbs), cents, cbs, queries, 4, 5)
      .collect().map(_.getLong(0)).toSet
    assert(probed == Set(0L), s"probed batch answered dirty queries: $probed")
  }

  test("persisted residual IVF-PQ roundtrips: loaded search == inline search") {
    import graft.operators.Ivf
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_rpq_index"
    val cbs = Pq.saveResidual(emb0001, step = 25, offset = 12, m = 8, path)
    val (codes, cents, loadedCbs) = Pq.load(spark, path)
    assert(loadedCbs.length == cbs.length)
    loadedCbs.zip(cbs).foreach { case (l, o) =>
      assert(l.cids.toSeq == o.cids.toSeq)
      assert(l.mat.zip(o.mat).forall { case (a, b) => a.sameElements(b) })
    }
    val q = graft.operators.Knn.queryVector(emb0001, 0L)
    val fromDisk = Pq.searchResidualCells(codes, cents, loadedCbs, q, 4, 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val inline = Pq.searchResidualIvfAdc(emb0001, 25,
        Pq.residualCodebooks(emb0001, Ivf.centroids(emb0001, 25), 25, 12, 8), q, 4, 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(fromDisk === inline)
    // partitioned layout: one dir per coarse cell
    val dirs = new java.io.File(s"$path/codes").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("centroid_id="))
    assert(dirs.nonEmpty)
  }

  test("batched ADC search == per-query flat ADC for every query") {
    val cbs = Pq.codebooks(emb0001, 25, 8)
    val enc = Pq.encode(emb0001, cbs)
    val qids = Seq(0L, 7L, 42L)
    val queries = emb0001.where(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val batch = Pq.searchAdcBatch(enc, cbs, queries, 10).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(r => (r.getLong(1), r.getDouble(2))).toSeq).toMap
    assert(batch.keySet == qids.toSet)
    qids.foreach { qid =>
      val single = Pq.searchAdc(enc, cbs,
          emb0001.where(col("vec_id") === qid).select(col("embedding").as("qv")), 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(qid) === single, s"query $qid diverged from single-query ADC")
    }
  }

  test("learned OPQ rotation: orthonormal, improves training error, recall >= fixed") {
    val model = Pq.learnRotation(emb001, sampleStride = 5, m = 8, iters = 4)
    for (i <- 0 until 64 by 9; j <- i until 64 by 9) {
      val d = model.rows(i).zip(model.rows(j)).map { case (a, b) => a * b }.sum
      assert(math.abs(d - (if (i == j) 1.0 else 0.0)) < 1e-9,
        s"learned R rows $i,$j dot $d — not orthonormal")
    }
    assert(model.errors.length == 4)
    assert(model.errors.last <= model.errors.head,
      s"alternating minimization regressed: ${model.errors}")
    val q = graft.operators.Knn.queryVector(emb001, 0L)
    val exactIds = emb001.crossJoin(broadcast(q))
      .select(col("vec_id"), l2Sq(col("embedding"), col("qv")).as("d"))
      .orderBy(asc("d"), asc("vec_id")).limit(20)
      .collect().map(_.getLong(0)).toSet
    def recallOf(rot: org.apache.spark.sql.DataFrame,
                 rq: org.apache.spark.sql.DataFrame): Double = {
      val cbs = Pq.codebooks(rot, 25, 8)
      val ids = Pq.searchAdc(Pq.encode(rot, cbs), cbs, rq, 20)
        .collect().map(_.getLong(0)).toSet
      (ids & exactIds).size / 20.0
    }
    val had = recallOf(Pq.rotate(emb001, 64), Pq.rotateQuery(q, 64))
    val lrn = recallOf(Pq.rotateWith(emb001, model.rows),
      Pq.rotateQueryWith(q, model.rows))
    info(s"hadamard recall = $had, learned = $lrn")
    // OPQ's guarantee is the RECONSTRUCTION objective (asserted
    // monotone above); single-query recall@20 carries ~±0.05 of
    // quantization luck (measured 0.40 vs 0.35 here), so the recall
    // claim is a no-collapse band, not dominance
    assert(lrn >= had - 0.1, s"learned rotation $lrn collapsed vs fixed $had")
  }

  test("learned-OPQ end-to-end: persisted roundtrip == in-memory path, recall@20 >= Hadamard") {
    import graft.operators.Knn
    // q61b's exact config: stride-2 sample, k=20 codes per subspace —
    // the same code budget as the stride baseline, so the recall
    // comparison below is same-budget (thinner samples / fewer codes
    // trained quantizers that lost to the UNTRAINED stride baseline)
    val model = Pq.learnRotation(emb001, sampleStride = 2, m = 8, iters = 4, k = 20)
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_opq_index"
    val saved = Pq.saveRotated(emb001, 25, model, path)
    val (codes, cents, loadedCbs) = Pq.load(spark, path)
    assert(loadedCbs.length == saved.length)
    loadedCbs.zip(saved).foreach { case (l, o) =>
      assert(l.cids.toSeq == o.cids.toSeq)
      assert(l.mat.zip(o.mat).forall { case (a, b) => a.sameElements(b) })
    }
    // the rotation matrix roundtrips bit-exactly (doubles through parquet)
    val rot = Pq.loadRotation(spark, path)
      .getOrElse(fail("saveRotated persisted no rotation table"))
    assert(rot.length == 64)
    rot.zip(model.rows).foreach { case (a, b) => assert(a.sameElements(b)) }
    // an UNROTATED layout reports None — readers dispatch on the layout
    val rawPath = s"${System.getProperty("java.io.tmpdir")}/graft_ivfpq_planspec"
    Pq.save(emb0001, 25, Pq.codebooks(emb0001, step = 25, m = 8), rawPath)
    assert(Pq.loadRotation(spark, rawPath).isEmpty)
    // deserialize → search == the in-memory path: full probe over the
    // loaded rotated index must equal the flat searchRotatedWith scan
    val q = Knn.queryVector(emb001, 0L)
    val nprobeAll = cents.count().toInt
    val fromDisk = Pq.searchRotatedCells(codes, cents, loadedCbs, rot, q, nprobeAll, 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val inMemory = Pq.searchRotatedWith(emb001, model, q, 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(fromDisk === inMemory, "loaded OPQ search != in-memory OPQ search")
    // recall@20 of the assembled path vs the fixed-Hadamard path (q61's
    // corpus/config), as a MEAN over a query panel — a single query
    // carries ~±0.05 of quantization luck either way (see the training
    // test above), the panel mean is the honest estimator
    val qids = Seq(0L, 7L, 13L, 42L, 99L)
    def meanRecall(search: org.apache.spark.sql.DataFrame => Set[Long]): Double =
      qids.map { qid =>
        val qv = Knn.queryVector(emb001, qid)
        val exact = emb001.crossJoin(broadcast(qv))
          .select(col("vec_id"), l2Sq(col("embedding"), col("qv")).as("d"))
          .orderBy(asc("d"), asc("vec_id")).limit(20)
          .collect().map(_.getLong(0)).toSet
        (search(qv) & exact).size / 20.0
      }.sum / qids.length
    val learned = meanRecall(qv =>
      Pq.searchRotatedCells(codes, cents, loadedCbs, rot, qv, nprobeAll, 20)
        .collect().map(_.getLong(0)).toSet)
    val had = meanRecall(qv =>
      Pq.searchRotated(emb001, 25, 8, qv, 20).collect().map(_.getLong(0)).toSet)
    info(s"panel-mean recall@20: learned OPQ = $learned, Hadamard = $had")
    assert(learned >= had, s"learned OPQ panel recall $learned below Hadamard $had")
  }

  test("Pq.append delta-encode onto a persisted layout == fresh encode of the union") {
    import graft.operators.Ivf
    val all = emb0001
    val isDelta = pmod(col("vec_id"), lit(10L)) === 7L
    val base = all.where(!isDelta)
    val delta = all.where(isDelta)
    // delta ids (…7) are never stride ids (…0/…5), so base centroids ==
    // union centroids and "fresh encode of the union" is well-defined
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Long]] =
      df.select(col("vec_id").cast("long") +: col("centroid_id").cast("long") +:
          (0 until 8).map(j => col(s"c$j").cast("long")): _*)
        .collect().map(_.toSeq.map(_.asInstanceOf[Long])).toSet
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_pq_append"
    val cbs = Pq.codebooks(base, 25, 8)
    Pq.save(base, 25, cbs, path)
    Pq.append(spark, path, delta)
    val (codes, cents, loadedCbs) = Pq.load(spark, path)
    assert(rows(codes) == rows(Pq.encodeWithCell(all, Ivf.centroids(base, 25), cbs)),
      "appended codes != fresh encode of the union against the frozen quantizers")
    // and a full-probe search over the appended layout equals the
    // in-memory union search — the delta is reachable, not just present
    val q = Knn.queryVector(all, 0L)
    val nprobeAll = cents.count().toInt
    val got = Pq.searchAdcCells(codes, cents, loadedCbs, q, nprobeAll, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = Pq.searchIvfAdc(all, 25, cbs, q, nprobeAll, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === want)
    // rotated layout: append must rotate the delta through the
    // persisted R before encoding (readers rotate queries, not data)
    val model = Pq.learnRotation(base, sampleStride = 2, m = 8, iters = 2)
    val rpath = s"${System.getProperty("java.io.tmpdir")}/graft_opq_append"
    Pq.saveRotated(base, 25, model, rpath)
    Pq.append(spark, rpath, delta)
    val (rcodes, _, _) = Pq.load(spark, rpath)
    val rotAll = Pq.rotateWith(all, model.rows)
    val rotBase = Pq.rotateWith(base, model.rows)
    assert(rows(rcodes) ==
      rows(Pq.encodeWithCell(rotAll, Ivf.centroids(rotBase, 25), model.codebooks)),
      "rotated append != fresh rotated encode of the union")
  }

  test("re-saving an unrotated layout over a rotated one removes its rotation") {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_pq_resave"
    val model = Pq.learnRotation(emb0001, sampleStride = 2, m = 8, iters = 1)
    Pq.saveRotated(emb0001, 25, model, path)
    assert(Pq.loadRotation(spark, path).isDefined)
    Pq.save(emb0001, 25, Pq.codebooks(emb0001, step = 25, m = 8), path)
    assert(Pq.loadRotation(spark, path).isEmpty,
      "save left saveRotated's rotation: append would rotate with untrained R")
    Pq.saveRotated(emb0001, 25, model, path)
    Pq.saveResidual(emb0001, step = 25, offset = 12, m = 8, path)
    assert(Pq.loadRotation(spark, path).isEmpty, "saveResidual left the rotation")
  }

  test("save/append write at full width: one new file per touched cell, " +
    "the code write stage runs spark.sql.shuffle.partitions tasks") {
    import graft.operators.Ivf
    import org.apache.spark.sql.graftbridge.JobLog
    val sc = spark.sparkContext
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_pq_width"
    val base = IvfSpec.wave(spark, 0, 400) // 16 cells
    val delta = IvfSpec.wave(spark, 400, 60)
    val cbs = Pq.codebooks(base, 25, 2)
    val touched = Pq.encodeWithCell(delta, Ivf.centroids(base, 25), cbs)
      .select("centroid_id").distinct()
      .collect().map(r => s"centroid_id=${r.getLong(0)}").toSet
    assert(touched.size > 1)
    def cellFiles(): Map[String, Set[String]] =
      new java.io.File(s"$path/codes").listFiles().filter(_.isDirectory).map { d =>
        d.getName -> d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
      }.toMap
    // a width no other job of the save runs at, so the write stage is
    // the one job that shows it
    val width = 7
    val old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", width.toString)
    try {
      val (_, saveJobs) = JobLog.during(sc)(Pq.save(base, 25, cbs, path))
      val saved = cellFiles()
      assert(saved.size == 16 && saved.values.forall(_.size == 1), s"save wrote $saved")
      assert(saveJobs.count(_.finalTasks == width) == 1, s"code write not at width: $saveJobs")
      val (_, appendJobs) = JobLog.during(sc)(Pq.append(spark, path, delta))
      cellFiles().foreach { case (cell, files) =>
        val added = (files -- saved.getOrElse(cell, Set.empty)).size
        assert(added == (if (touched(cell)) 1 else 0), s"$cell gained $added files")
      }
      // the code write is the append's last job
      assert(appendJobs.last.finalTasks == width, s"append not at width: $appendJobs")
    } finally spark.conf.set("spark.sql.shuffle.partitions", old)
  }

  test("load of a >32-cell layout runs no listing job; a literal searchAdcCells " +
    "over it runs one job") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.graftbridge.JobLog
    import org.apache.spark.sql.types._
    val sc = spark.sparkContext
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_pq_load"
    val vectors = IvfSpec.wave(spark, 0, 2000) // 80 cells
    Pq.save(vectors, 25, Pq.codebooks(vectors, 25, 2), path)
    val ((codes, cents, cbs), loadJobs) = JobLog.during(sc)(Pq.load(spark, path))
    assert(!loadJobs.exists(_.description.startsWith("Listing leaf files")),
      s"load ran a listing job: $loadJobs")
    assert(codes.count() == 2000)
    val v = vectors.where(col("vec_id") === 7L).head().getSeq[Float](1)
    val q = spark.createDataFrame(java.util.Collections.singletonList(Row(v)),
      StructType(Seq(StructField("qv", ArrayType(FloatType)))))
    val (hits, searchJobs) =
      JobLog.during(sc)(Pq.searchAdcCells(codes, cents, cbs, q, 3, 10).collect())
    assert(hits.length == 10)
    assert(searchJobs.size == 1, s"literal search ran ${searchJobs.size} jobs: $searchJobs")
  }

  test("composed serve: excludes filtered/deleted rows; degenerate case == exact filtered top-k") {
    val q = Knn.queryVector(emb0001, 0L)
    val dead = emb0001.where(pmod(col("vec_id"), lit(7L)) === 2L).select("vec_id")
    val deadIds = dead.collect().map(_.getLong(0)).toSet
    val got = Pq.searchAdcFilteredRerank(emb0001, 25, 8, col("label") === 3,
      dead, q, nprobe = 4, shortlist = 100, k = 20).collect()
    assert(got.nonEmpty)
    val gotIds = got.map(_.getLong(0)).toSet
    val okIds = emb0001.where(col("label") === 3).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(gotIds.subsetOf(okIds -- deadIds),
      "composed serve returned a filtered-out or tombstoned row")
    // exact-L2 ordering within the returned rows (the re-rank stage ran)
    val dists = got.map(_.getDouble(1)).toSeq
    assert(dists == dists.sorted)
    // degenerate config (all cells probed, shortlist >= corpus, no
    // deletes, always-true pred) must equal the exact L2 top-k
    val empty = emb0001.where(lit(false)).select("vec_id")
    val nCells = emb0001.count().toInt / 25 + 1
    val degen = Pq.searchAdcFilteredRerank(emb0001, 25, 8, lit(true),
        empty, q, nprobe = nCells, shortlist = emb0001.count().toInt, k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val exact = emb0001.crossJoin(broadcast(q))
      .select(col("vec_id"), round(l2Sq(col("embedding"), col("qv")), 6).as("d"))
      .orderBy(asc("d"), asc("vec_id")).limit(20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(degen == exact, "degenerate composed serve != exact L2 top-k")
  }

  test("residual IVF-PQ recall@20 >= raw IVF-PQ at the same code budget") {
    import graft.operators.Ivf
    val q = Knn.queryVector(emb001, 0L)
    val exactIds = emb001.crossJoin(broadcast(q))
      .select(col("vec_id"), l2Sq(col("embedding"), col("qv")).as("d"))
      .orderBy(asc("d"), asc("vec_id")).limit(20)
      .collect().map(_.getLong(0)).toSet
    val nprobeAll = 1000 // >= centroid count: isolates quantizer quality from probing
    val cents = Ivf.centroids(emb001, 25)
    val rawCbs = Pq.codebooks(emb001, step = 25, m = 8)
    val rawIds = Pq.searchIvfAdc(emb001, 25, rawCbs, q, nprobeAll, 20)
      .collect().map(_.getLong(0)).toSet
    val resCbs = Pq.residualCodebooks(emb001, cents, step = 25, offset = 12, m = 8)
    val resIds = Pq.searchResidualIvfAdc(emb001, 25, resCbs, q, nprobeAll, 20)
      .collect().map(_.getLong(0)).toSet
    val rawRecall = (rawIds & exactIds).size / 20.0
    val resRecall = (resIds & exactIds).size / 20.0
    // deterministic corpus: residual quantization spends the same m x k
    // codes on the post-coarse ball — measured 0.45 (raw) vs 0.70 (residual)
    assert(resRecall >= rawRecall,
      s"residual recall $resRecall < raw recall $rawRecall")
  }

  test("quantizationError (q82): per-cell stats == brute-force subspace argmin sums") {
    import graft.operators.Ivf
    import graft.functions.VecUtil.round6
    val step = 25; val m = 8
    val out = Pq.quantizationError(emb0001, step, m).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap

    val cents = Ivf.collectCentroids(Ivf.centroids(emb0001, step))
    val cbs = Pq.codebooks(emb0001, step, m)
    val dim = cbs.map(_.mat.head.length).sum
    val sub = dim / m
    def l2sq(x: Array[Double], y: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < x.length) { val d = x(i) - y(i); acc += d * d; i += 1 }
      acc
    }
    // the operator's round(dist * 1e6) → long micro-unit conversion
    def toMicro(d: Double): Long =
      java.math.BigDecimal.valueOf(d * 1000000d)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue
    val rows = emb0001.select("vec_id", "embedding").collect()
      .filter(r => !r.isNullAt(1))
      .map(r => r.getLong(0) -> r.getSeq[Any](1))
      .filter { case (_, e) => e.length == dim && !e.contains(null) }
      .map { case (id, e) =>
        id -> e.map { case f: Float => f.toDouble; case d: Double => d }.toArray
      }
    assert(rows.nonEmpty)
    val perRow = rows.map { case (_, e) =>
      val cell = cents.cids.zip(cents.mat)
        .map { case (cid, c) => (round6(l2sq(e, c)), cid) }
        .minBy(x => (x._1, x._2))._2
      val errU = (0 until m).map { j =>
        val slice = e.slice(j * sub, (j + 1) * sub)
        toMicro(cbs(j).mat.map(cb => round6(l2sq(slice, cb))).min)
      }.sum
      cell -> errU
    }
    val expect = perRow.groupBy(_._1).map { case (cell, g) =>
      val us = g.map(_._2)
      cell -> ((us.length.toLong,
        round6(us.sum.toDouble / us.length / 1000000d),
        round6(us.max.toDouble / 1000000d)))
    }
    assert(out == expect, "operator per-cell error != brute-force recomputation")
  }

  test("quantizationError: zero everywhere when the corpus IS the codebook (step=1)") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(0f, 0f, 1f, 1f)),
      (1L, Array(2f, 2f, 3f, 3f)),
      (2L, Array(4f, 4f, 5f, 5f)),
      (3L, Array(6f, 6f, 7f, 7f)))
      .toDF("vec_id", "embedding")
    val out = Pq.quantizationError(vecs, 1, 2).collect()
    assert(out.length == 4, "step=1 makes every vector its own cell")
    out.foreach { r =>
      assert(r.getLong(1) == 1L)
      assert(r.getDouble(2) == 0.0 && r.getDouble(3) == 0.0,
        s"self-codebook corpus must quantize losslessly, got $r")
    }
  }

  test("codebooksK holds k fixed regardless of corpus size (the real-PQ " +
    "contract) and encodes with the same machinery") {
    val emb = Tables.embeddings(spark, sf001)
    val k = 16
    val small = Pq.codebooksK(emb, k, 8)
    val big10 = Pq.codebooksK(
      (0 until 10).map(i => emb.withColumn("vec_id",
        col("vec_id") + lit(i * 1000000L))).reduce(_ unionByName _), k, 8)
    // modulo-stride over sparse ids lands NEAR k (phase effects per id
    // range), never tracking n: the old coupling would read ~10x here
    assert(small.head.cids.length <= 2 * k && small.head.cids.length >= k / 2,
      s"small corpus k=${small.head.cids.length}")
    assert(big10.head.cids.length <= 2 * k && big10.head.cids.length >= k / 2,
      s"10x corpus k=${big10.head.cids.length} — k is tracking n again")
    val codes = Pq.encode(emb, small)
    assert(codes.count() > 0)
    // every code is a valid index into the fixed-k codebook
    val maxCode = codes.collect().flatMap(r =>
      (1 until r.length).map(i => r.getLong(i))).max
    assert(maxCode < small.head.cids.length, s"code $maxCode out of range")
  }
}
