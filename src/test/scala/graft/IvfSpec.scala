package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.sum
import org.apache.spark.sql.types._
import graft.operators.{Ivf, Knn}

object IvfSpec {
  import org.apache.spark.sql.functions._
  import graft.functions.VectorFunctions.{dot, l2Sq}

  /** The Spark-expression probe `Ivf.search` ran before the driver-side
    * [[Ivf.probeCells]]: the unified dirty-centroid rule against the
    * query's own size, `round(l2sq, 6)`, (cdist, centroid_id) order.
    * Kept as the reference the driver ranking must match. */
  private def exprProbed(cents: DataFrame, query: DataFrame, nprobe: Int): DataFrame = {
    val (c, q) = (col("c_emb"), col("qv"))
    cents.crossJoin(broadcast(query.select("qv")))
      .where(c.isNotNull && size(c) === size(q) && size(array_compact(c)) === size(q) &&
        !exists(c, x => isnan(x)))
      .select(col("centroid_id"), round(l2Sq(c, q), 6).as("cdist"))
      .orderBy(col("cdist"), col("centroid_id"))
      .limit(nprobe)
      .select("centroid_id")
  }

  /** [[exprProbed]]'s ids in rank order; null ids included (they take a
    * probe slot). */
  def exprProbe(cents: DataFrame, query: DataFrame, nprobe: Int): Seq[java.lang.Long] =
    exprProbed(cents, query, nprobe).select(col("centroid_id").cast("long")).collect().toSeq
      .map(r => if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0)))

  /** (files the executed `df` read from its one scan of `root`, parquet
    * files under the cells [[exprProbe]] picks) — static pruning must
    * keep the first at most the second. */
  def filesReadVsProbed(df: DataFrame, root: String, cents: DataFrame,
                        query: DataFrame, nprobe: Int): (Long, Int) = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    df.collect()
    val plan = df.queryExecution.executedPlan
    val scans = new AdaptiveSparkPlanHelper {}.collect(plan) {
      case s: FileSourceScanExec if s.relation.location.rootPaths
        .exists(_.toString.endsWith(root)) => s
    }
    assert(scans.size == 1, s"expected one scan of $root:\n$plan")
    val probed = exprProbe(cents, query, nprobe).flatMap(Option(_)).map { id =>
      new java.io.File(s"$root/centroid_id=$id").listFiles().count(_.getName.endsWith(".parquet"))
    }.sum
    (scans.head.metrics("numFiles").value, probed)
  }

  /** `n` deterministic 8-dim vectors with ids `from until from + n`. */
  def wave(spark: org.apache.spark.sql.SparkSession, from: Long, n: Long): DataFrame =
    spark.range(from, from + n).select(col("id").as("vec_id"),
      array((1 to 8).map(i => sin(col("id") * lit(0.37 * i)).cast("float")): _*).as("embedding"))

  /** `Ivf.search` as it was planned before: the probe as a broadcast
    * subquery joined to the postings, the query frame cross-joined in. */
  def exprSearch(postings: DataFrame, cents: DataFrame, query: DataFrame,
                 nprobe: Int, k: Int): DataFrame =
    postings
      .join(broadcast(exprProbed(cents, query, nprobe)), "centroid_id")
      .crossJoin(broadcast(query))
      .select(col("vec_id"), round(dot(col("embedding"), col("qv")), 6).as("score"))
      .orderBy(desc("score"), asc("vec_id"))
      .limit(k)
}

/** IVF approximate search quality + index persistence roundtrip. */
class IvfSpec extends SparkSpec {
  import SparkEntry.Params._

  private def emb = Tables.embeddings(spark, sf001)

  test("IVF search recall@20 >= 0.9 vs exact top-k at sf0.01") {
    val q = Knn.queryVector(emb, QueryVecId)
    val exact = Knn.topKDot(emb, q, K).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val approx = Ivf.searchInline(emb, IvfStep, q, NProbe, K).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val recall = (exact intersect approx).size.toDouble / K
    assert(recall >= 0.9, s"recall@$K = $recall (exact=$exact approx=$approx)")
  }

  test("filtered search: only matching labels surface; predicate pushes to the scan; " +
    "probe-everything equals exact filtered") {
    import org.apache.spark.sql.functions._
    val q = Knn.queryVector(emb, QueryVecId)
    val pred = col("label") === FilterLabel
    val probed = Ivf.searchInlineFiltered(emb, IvfStep, pred, q, NProbe, K)
    val probedIds = probed.collect().map(_.getLong(0)).toSet
    assert(probedIds.nonEmpty, "filtered probe returned nothing at ~10% selectivity")
    val matching = emb.where(pred).select("vec_id").collect().map(_.getLong(0)).toSet
    assert(probedIds.subsetOf(matching), "a non-matching row escaped the filter")
    // the exact filtered path pushes the predicate into the parquet scan
    val exactPlan = Knn.topKDotFiltered(emb, pred, q, K)
      .queryExecution.executedPlan.toString
    assert(exactPlan.contains("PushedFilters") && exactPlan.contains("EqualTo(label,3)"),
      s"label predicate not pushed to the scan:\n$exactPlan")
    // with every cell probed, pre-filter IVF degenerates to exact filtered
    val nCells = (emb.count() / IvfStep).toInt + 1
    val all = Ivf.searchInlineFiltered(emb, IvfStep, pred, q, nCells, K)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val exact = Knn.topKDotFiltered(emb, pred, q, K)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(all == exact, "probe-everything filtered search diverged from exact filtered")
  }

  test("searchFilteredRouted: routing flips on selectivity; each route == its direct strategy") {
    import org.apache.spark.sql.functions._
    val q = Knn.queryVector(emb, QueryVecId)
    val common = col("label") === FilterLabel // ~10 % selectivity
    val rare = (col("vec_id") % 500) === 7    // ~0.2 % — under the 1 % default
    val (s1, r1) = Ivf.searchFilteredRouted(emb, IvfStep, common, q, NProbe, K)
    assert(s1 == "prefilter_ivf", s"~10% predicate routed to $s1")
    assert(r1.collect().toSeq ==
      Ivf.searchInlineFiltered(emb, IvfStep, common, q, NProbe, K).collect().toSeq,
      "routed prefilter-IVF result diverged from the direct strategy")
    val (s2, r2) = Ivf.searchFilteredRouted(emb, IvfStep, rare, q, NProbe, K)
    assert(s2 == "exact_filtered", s"~0.2% predicate routed to $s2")
    assert(r2.collect().toSeq ==
      Knn.topKDotFiltered(emb, rare, q, K).collect().toSeq,
      "routed exact result diverged from the direct strategy")
    // the stride-sampled selectivity probe tracks the exact fraction on
    // an id-uncorrelated predicate (the bounded-read path at scale)
    val full = Ivf.selectivity(emb, common)
    val sampled = Ivf.selectivity(emb, common, sampleStride = 7)
    assert(math.abs(full - sampled) < 0.1,
      s"stride-sampled selectivity $sampled far from exact $full")
  }

  test("deletion lifecycle: tombstone hides ids immediately; compact folds them in, " +
    "touching only affected cells; post-compact search == delete-aware pre-compact search") {
    import org.apache.spark.sql.functions._
    val tmp = System.getProperty("java.io.tmpdir")
    val path = s"$tmp/graft_delete_idx"
    // fresh index (clear any prior run's layout including tombstones)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    Ivf.save(emb, IvfStep, path)
    val (postings0, cents) = Ivf.load(spark, path)
    val q = Knn.queryVector(emb, QueryVecId)

    // tombstone exactly the ids of the CURRENT unfiltered top-3 — the
    // strongest observable effect: they must vanish from results
    val top3 = Ivf.search(postings0, cents, q, NProbe, K)
      .limit(3).collect().map(_.getLong(0))
    locally {
      import spark.implicits._
      Ivf.tombstone(path, top3.toSeq.toDF("vec_id"))
    }
    val dead = Ivf.tombstones(spark, path)
    assert(dead.collect().map(_.getLong(0)).toSet == top3.toSet)

    val masked = Ivf.searchWithDeletes(postings0, cents, dead, q, NProbe, K)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(masked.map(_._1).toSet.intersect(top3.toSet).isEmpty,
      "a tombstoned id surfaced in delete-aware search")

    // record per-cell file names to prove compaction only touches hit cells
    def cellFiles(): Map[String, Set[String]] =
      new java.io.File(s"$path/postings").listFiles().filter(_.isDirectory).map { d =>
        d.getName -> d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
      }.toMap
    val before = cellFiles()
    val affectedCells = postings0.join(dead, "vec_id")
      .select("centroid_id").distinct().collect().map(_.get(0).toString).toSet

    Ivf.compact(spark, path)
    assert(!new java.io.File(s"$path/tombstones").exists, "tombstone log not reset")
    // `dead` lazily re-reads the (now deleted) tombstone files — switch
    // to a literal frame of the same ids for post-compact assertions
    val deadLit = locally {
      import spark.implicits._
      top3.toSeq.toDF("vec_id")
    }
    val after = cellFiles()
    before.foreach { case (cell, files) =>
      val cid = cell.stripPrefix("centroid_id=")
      if (affectedCells.contains(cid))
        assert(after(cell) != files, s"affected cell $cell was not rewritten")
      else
        assert(after(cell) == files, s"untouched cell $cell was rewritten")
    }
    val (postings1, _) = Ivf.load(spark, path)
    assert(postings1.join(deadLit, "vec_id").count() == 0,
      "a tombstoned row survived compaction")
    val compacted = Ivf.search(postings1, cents, q, NProbe, K)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(compacted == masked,
      "post-compact plain search diverged from pre-compact delete-aware search")
  }

  test("splitOversized: conserves vectors, splits every oversized cell into two " +
    "smaller halves, leaves others untouched under the id doubling") {
    import org.apache.spark.sql.functions._
    val before = Ivf.assignWithEmbedding(emb, Ivf.centroids(emb, IvfStep))
      .groupBy("centroid_id").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val overs = before.filter(_._2 > RebalanceMax).keySet
    assert(overs.nonEmpty, "fixture has no oversized cells — threshold lost its teeth")
    val after = Ivf.splitOversized(emb, IvfStep, RebalanceMax)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(after.values.sum == before.values.sum, "rebalance lost/duplicated vectors")
    before.foreach { case (cid, n) =>
      if (overs.contains(cid)) {
        val (a, b) = (after.getOrElse(2 * cid, 0L), after.getOrElse(2 * cid + 1, 0L))
        assert(a + b == n, s"cell $cid members not conserved across the split")
        assert(a < n && b < n && b > 0, s"cell $cid did not actually split ($a, $b)")
      } else {
        assert(after.get(2 * cid).contains(n), s"untouched cell $cid changed occupancy")
        assert(!after.contains(2 * cid + 1), s"untouched cell $cid grew a split half")
      }
    }
  }

  test("assignWithEmbedding drops null / off-dim / null-element rows (no phantom null cluster)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val vecs = Seq(
      (1L, Array[java.lang.Float](1.0f, 2.0f)),
      (2L, Array[java.lang.Float](3.0f, 4.0f)),
      (3L, null.asInstanceOf[Array[java.lang.Float]]),
      (4L, Array[java.lang.Float](1.0f, null)),       // null element
      (5L, Array[java.lang.Float](1.0f, 2.0f, 3.0f))) // off-dim
      .toDF("vec_id", "embedding")
    val cents = Seq((0L, Array(0.0f, 0.0f)), (1L, Array(5.0f, 5.0f)))
      .toDF("centroid_id", "c_emb")
    val out = Ivf.assignWithEmbedding(vecs, cents).collect()
    assert(out.map(_.getLong(0)).toSet === Set(1L, 2L), "dirty rows not dropped")
    assert(out.forall(r => !r.isNullAt(r.fieldIndex("centroid_id"))))
  }

  test("Lloyd refinement keeps recall@20 >= 0.9 and tightens assignments") {
    val q = Knn.queryVector(emb, QueryVecId)
    val init = Ivf.centroids(emb, IvfStep)
    val refined = Ivf.refineCentroids(emb, init, iters = 2)
    assert(refined.count() > 0 && refined.count() <= init.count())
    val exact = Knn.topKDot(emb, q, K).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    // Refined centroids re-shape cells, so the neighborhood can spread
    // over more of them; recall at a fixed nprobe is not monotone in
    // refinement. Probe 2× to hold the quality bar.
    val approx = Ivf.search(
      Ivf.assign(emb, refined).join(emb.select("vec_id", "embedding"), "vec_id"),
      refined, q, NProbe * 2, K).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val recall = (exact intersect approx).size.toDouble / K
    assert(recall >= 0.9, s"refined recall@$K (nprobe=${NProbe * 2}) = $recall")
    // Refinement must not increase total within-cluster distance.
    def cost(c: org.apache.spark.sql.DataFrame): Double =
      Ivf.assign(emb, c).agg(sum("dist")).collect().head.getDouble(0)
    assert(cost(refined) <= cost(init))
  }

  test("recall@20 is monotone in nprobe and reaches 1.0 at full probe") {
    val q = Knn.queryVector(emb, QueryVecId)
    val exact = Knn.topKDot(emb, q, K).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val nCents = Ivf.centroids(emb, IvfStep).count().toInt
    val recalls = Seq(1, 2, NProbe, nCents).map { np =>
      val got = Ivf.searchInline(emb, IvfStep, q, np, K).select("vec_id")
        .collect().map(_.getLong(0)).toSet
      (exact intersect got).size.toDouble / K
    }
    assert(recalls == recalls.sorted, s"recall not monotone in nprobe: $recalls")
    assert(recalls.last == 1.0, s"full probe must be exact: ${recalls.last}")
  }

  test("batched search == per-query single search for every query") {
    import org.apache.spark.sql.functions.col
    val cents = Ivf.centroids(emb, IvfStep)
    val postings = Ivf.assign(emb, cents)
      .join(emb.select("vec_id", "embedding"), "vec_id")
    val qids = Seq(0L, 7L, 13L)
    val queries = emb.where(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val batched = Ivf.searchBatch(postings, cents, queries, NProbe, K)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    qids.foreach { qid =>
      val single = Ivf.search(postings, cents, Knn.queryVector(emb, qid), NProbe, K)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(batched(qid) === single, s"query $qid: batched != single")
    }
  }

  test("dirty centroids (null-elem / off-dim / NaN-elem) are excluded from probing; batched agrees") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf0001)
    val cents = Ivf.centroids(emb, IvfStep)
    // postings from the CLEAN set — the dirt is in the probe input only,
    // so exclusion is observable: a probed dirty cell would surface its
    // (perfectly clean) postings rows in the top-k
    val postings = Ivf.assign(emb, cents)
      .join(emb.select("vec_id", "embedding"), "vec_id")
    val poisoned = cents.select(col("centroid_id"),
      when(col("centroid_id") === 1L,
        expr("transform(c_emb, (x, i) -> IF(i = 3, CAST(NULL AS FLOAT), x))"))
        .when(col("centroid_id") === 2L, slice(col("c_emb"), 1, 8))
        .when(col("centroid_id") === 3L,
          expr("transform(c_emb, (x, i) -> IF(i = 3, CAST('NaN' AS FLOAT), x))"))
        .otherwise(col("c_emb")).as("c_emb"))
    val cleansed = cents.filter(!col("centroid_id").isin(1L, 2L, 3L))
    // full-probe boundary: the NaN cell ranks LAST, so only here could it
    // absorb a slot — precisely the single/batched asymmetry r8 left open
    val nprobeAll = cents.count().toInt
    val q = Knn.queryVector(emb, QueryVecId)
    def run(c: org.apache.spark.sql.DataFrame) =
      Ivf.search(postings, c, q, nprobeAll, K)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(run(poisoned) == run(cleansed),
      "a dirty centroid was probed (or a clean one dropped)")
    // batched path over a MULTI-ROW query frame (the per-row size(qv)
    // dim witness the r8 guard left untested)
    val queries = emb.where(col("vec_id").isin(0L, 7L))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    def runB(c: org.apache.spark.sql.DataFrame) =
      Ivf.searchBatch(postings, c, queries, nprobeAll, K)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(runB(poisoned) == runB(cleansed), "batched probe diverged on dirty centroids")
  }

  test("driver probe == Spark-expression probe on dirty centroids and dirty queries; " +
    "search top-k unchanged bit for bit") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sf0001)
    val clean = Ivf.centroids(emb, IvfStep).orderBy("centroid_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val postings = Ivf.assign(emb, Ivf.centroids(emb, IvfStep))
      .join(emb.select("vec_id", "embedding"), "vec_id")
    val q0 = emb.where(col("vec_id") === QueryVecId).select("embedding")
      .head().getSeq[Float](0).toArray
    def boxed(v: Array[Float]): Seq[java.lang.Float] = v.toSeq.map(Float.box)
    def withElem(v: Array[Float], i: Int, x: java.lang.Float) = boxed(v).updated(i, x)
    // centroid 6 moved one float ulp away from the query, under a lower
    // id: its raw distance is larger, its round6 distance (almost
    // surely) ties, so only the (cdist, centroid_id) order puts it first
    val (id6, c6) = clean(6)
    val nudged = c6.clone()
    nudged(0) = if (c6(0) >= q0(0)) Math.nextUp(c6(0)) else Math.nextDown(c6(0))
    val rows: Seq[(java.lang.Long, Seq[java.lang.Float])] =
      clean.toSeq.map { case (id, v) =>
        val e = id match {
          case 1L => withElem(v, 3, null)                          // null element
          case 2L => boxed(v.take(8))                              // off-dim
          case 3L => withElem(v, 3, Float.NaN)                     // NaN element
          case 4L => null                                          // null embedding
          case _ => boxed(v)
        }
        (Long.box(id), e)
      } ++ Seq(
        (null, boxed(q0)),                        // null id, nearest of all
        (null, boxed(clean(9)._2)),               // null id, mid-rank
        (Long.box(1000L), boxed(clean(5)._2)),    // exact tie with cell 5
        (Long.box(-id6), boxed(nudged)))          // round6 tie with cell 6
    val schema = StructType(Seq(
      StructField("centroid_id", LongType, nullable = true),
      StructField("c_emb", ArrayType(FloatType, containsNull = true), nullable = true)))
    val dirty = spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (id, e) => Row(id, e) }: _*), schema)
    val qSchema = StructType(Seq(StructField("qv", ArrayType(FloatType, containsNull = true))))
    def query(v: Seq[java.lang.Float]) =
      spark.createDataFrame(java.util.List.of(Row(v)), qSchema)
    val queries = Seq(
      "clean" -> query(boxed(q0)),
      "clean double" -> query(boxed(q0)).select(col("qv").cast("array<double>").as("qv")),
      "scanned" -> Knn.queryVector(emb, QueryVecId),
      "null element" -> query(withElem(q0, 5, null)),
      "NaN element" -> query(withElem(q0, 5, Float.NaN)),
      "wrong dim" -> query(boxed(q0.take(8))),
      "null vector" -> query(null))
    val nClean = rows.count { case (_, e) =>
      e != null && e.length == q0.length && !e.exists(x => x == null || x.isNaN) }
    val budgets = Seq(1, 3, nClean - 1, nClean, rows.size + 2)
    queries.foreach { case (name, q) =>
      val qv = Ivf.collectQv(q)._2
      budgets.foreach { np =>
        val want = IvfSpec.exprProbe(dirty, q, np).flatMap(Option(_)).map(_.longValue)
        assert(Ivf.probeCells(dirty, qv, _ => np) == want, s"$name query, nprobe $np")
      }
      Seq(3, rows.size + 2).foreach { np =>
        assert(Ivf.search(postings, dirty, q, np, K).collect().toSeq ==
          IvfSpec.exprSearch(postings, dirty, q, np, K).collect().toSeq,
          s"$name query, nprobe $np: search diverged from the expression formulation")
      }
    }
    // the k overload's budget counts every row, dirty and null-id included
    val q = queries.head._2
    assert(Ivf.search(postings, dirty, q, K).collect().toSeq ==
      IvfSpec.exprSearch(postings, dirty, q, Ivf.autoNProbe(rows.size), K).collect().toSeq)
  }

  test("cellBalance: occupancy invariants on a clean corpus, dirty rows land in the right buckets") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf0001)
    val r = Ivf.cellBalance(emb, IvfStep).collect().head
    val n = emb.count()
    val nCells = Ivf.centroids(emb, IvfStep).count()
    assert(r.getLong(0) == nCells)                    // n_cells
    assert(r.getLong(1) == n)                         // n_vectors: all assigned
    assert(r.getLong(2) == 0L && r.getLong(3) == 0L)  // none unassigned, none empty
    assert(r.getLong(4) >= 1 && r.getLong(4) <= r.getLong(5)) // min <= max
    assert(r.getDouble(6) == n.toDouble / nCells)     // avg over non-empty cells
    assert(r.getDouble(7) >= 1.0)                     // skew = max/avg >= 1
    // dirty corpus: a poisoned DATA row becomes unassigned, a poisoned
    // STRIDE row stops being a cell — both visible in the report
    val poison = expr("transform(embedding, (x, i) -> IF(i = 3, CAST(NULL AS FLOAT), x))")
    val dirty = emb.select(col("vec_id"),
      when(col("vec_id").isin(3L, 25L), poison).otherwise(col("embedding")).as("embedding"),
      col("label"))
    val d = Ivf.cellBalance(dirty, IvfStep).collect().head
    assert(d.getLong(0) == nCells - 1, "dirty stride row still counted as a cell")
    assert(d.getLong(2) == 2L, s"expected 2 unassigned (vec 3 + vec 25), got ${d.getLong(2)}")
  }

  test("sqrt-n centroid policy: buildAuto centroid count tracks sqrt(n)") {
    val emb = Tables.embeddings(spark, sf001)
    val n = emb.count()
    val step = operators.Ivf.autoStep(emb)
    val k = operators.Ivf.centroids(emb, step).count()
    val target = math.sqrt(n.toDouble)
    assert(k >= target / 2 && k <= target * 2, s"k=$k vs sqrt(n)=$target")
    // and the build over that policy still assigns every vector
    assert(operators.Ivf.buildAuto(emb).count() === n)
  }

  test("save writes one data file per centroid directory (no small-files fanout)") {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_filecount"
    operators.Ivf.save(Tables.embeddings(spark, sf0001), 25, path)
    val dirs = new java.io.File(s"$path/postings").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("centroid_id="))
    assert(dirs.nonEmpty)
    dirs.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length === 1,
        s"${d.getName} has ${files.length} files — partitionBy fanout regressed")
    }
  }

  test("persisted index roundtrips: postings cover every vector exactly once") {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_spec"
    Ivf.save(emb, IvfStep, path)
    val (postings, cents) = Ivf.load(spark, path)
    val n = emb.count()
    assert(postings.count() === n)
    assert(postings.select("vec_id").distinct().count() === n)
    assert(cents.count() === Ivf.centroids(emb, IvfStep).count())
    // Search over the loaded index == inline search (same plan semantics)
    val q = Knn.queryVector(emb, QueryVecId)
    val fromDisk = Ivf.search(postings, cents, q, NProbe, K)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val inline = Ivf.searchInline(emb, IvfStep, q, NProbe, K)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(fromDisk === inline)
  }

  test("mergeAssign == fresh build over the union when the delta has no stride rows") {
    import org.apache.spark.sql.functions._
    val all = Tables.embeddings(spark, sf0001)
    val isDelta = pmod(col("vec_id"), lit(10L)) === 7L
    val merged = Ivf.mergeAssign(all.where(!isDelta), all.where(isDelta), IvfStep)
    // delta ids are never multiples of IvfStep=25, so base centroids ==
    // union centroids and the merged table must equal a fresh build
    val fresh = Ivf.build(all, IvfStep)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val got = merged.select("vec_id", "centroid_id", "dist")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got === fresh)
    val flags = merged.collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(flags.forall { case (id, isNew) => isNew == (id % 10 == 7) })
  }

  // append is NOT an upsert: overlapping vec_ids would duplicate (the
  // documented disjointness contract) — this case uses a disjoint delta.
  test("append adds a disjoint delta to a persisted index; search sees new vectors") {
    import org.apache.spark.sql.functions._
    val all = Tables.embeddings(spark, sf0001)
    val isDelta = pmod(col("vec_id"), lit(10L)) === 7L
    val base = all.where(!isDelta)
    val delta = all.where(isDelta)
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_append"
    Ivf.save(base, IvfStep, path)
    Ivf.append(spark, path, delta)
    val (postings, cents) = Ivf.load(spark, path)
    assert(postings.count() === all.count())
    assert(postings.select("vec_id").distinct().count() === all.count())
    // a full-probe search over the merged index must see delta vectors
    val q = Knn.queryVector(all, QueryVecId)
    val nprobeAll = cents.count().toInt
    val got = Ivf.search(postings, cents, q, nprobeAll, K)
      .collect().map(_.getLong(0)).toSet
    val want = Knn.topKDot(all, q, K).collect().map(_.getLong(0)).toSet
    assert(got === want, "post-append full-probe search != exact top-k over the union")
  }

  test("load of a >32-cell appended index == plain parquet read, with no listing job; " +
    "loaded centroids collect with no job; a literal search runs one job") {
    import org.apache.spark.sql.graftbridge.JobLog
    val sc = spark.sparkContext
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_load"
    Ivf.save(IvfSpec.wave(spark, 0, 2000), 25, path) // 80 cells
    val cs = Ivf.collectCentroids(spark.read.parquet(s"$path/centroids"))
    Ivf.appendWith(cs, path, IvfSpec.wave(spark, 2000, 100))
    Ivf.appendWith(cs, path, IvfSpec.wave(spark, 2100, 100))
    // debris Spark's own listing hides: a half-written task dir holding
    // a real parquet file, a cell-level _SUCCESS, a checksum file (the
    // local filesystem hides it too) and a plain dot file
    val postingsDir = new java.io.File(s"$path/postings")
    val cell = postingsDir.listFiles().filter(_.getName.startsWith("centroid_id=")).head
    val part = cell.listFiles().find(_.getName.endsWith(".parquet")).get
    val stray = new java.io.File(postingsDir, "_temporary/0/centroid_id=999")
    stray.mkdirs()
    java.nio.file.Files.copy(part.toPath, new java.io.File(stray, part.getName).toPath)
    Seq("_SUCCESS", ".stray.parquet.crc", ".stray.parquet").foreach(n =>
      java.nio.file.Files.write(new java.io.File(cell, n).toPath, Array[Byte](1, 2, 3)))

    val ((postings, cents), loadJobs) = JobLog.during(sc)(Ivf.load(spark, path))
    assert(!loadJobs.exists(_.description.startsWith("Listing leaf files")),
      s"load ran a listing job: $loadJobs")
    val plain = spark.read.parquet(s"$path/postings")
    assert(postings.schema == plain.schema)
    def rows(df: DataFrame) = df.select("vec_id", "centroid_id", "embedding").collect()
      .map(r => (r.getLong(0), r.get(1), r.getSeq[Float](2))).sortBy(_._1).toSeq
    val got = rows(postings)
    assert(got.size == 2200 && got == rows(plain), "loaded postings != plain parquet read")

    val plainCents = spark.read.parquet(s"$path/centroids")
    assert(cents.schema == plainCents.schema)
    val (centRows, centJobs) = JobLog.during(sc)(cents.collect())
    assert(centJobs.isEmpty, s"collecting loaded centroids ran $centJobs")
    assert(centRows.map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq ==
      plainCents.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq)

    val q = spark.createDataFrame(java.util.Collections.singletonList(Row(got(7)._3)),
      StructType(Seq(StructField("qv", ArrayType(FloatType)))))
    val (hits, searchJobs) = JobLog.during(sc)(Ivf.search(postings, cents, q, 3, 10).collect())
    assert(hits.length == 10)
    assert(searchJobs.size == 1, s"literal search ran ${searchJobs.size} jobs: $searchJobs")
  }

  test("append writes at full width: one new file per touched cell, count == assignable " +
    "delta rows, more than one write task") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graftbridge.JobLog
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_append_width"
    Ivf.save(IvfSpec.wave(spark, 0, 400), 25, path) // 16 cells
    val cents = spark.read.parquet(s"$path/centroids")
    val delta = IvfSpec.wave(spark, 400, 60)
      .union(spark.range(1).select(lit(999L).as("vec_id"),
        lit(null).cast("array<float>").as("embedding"))) // unassignable
    val touched = Ivf.assignWithEmbedding(delta, cents).select("centroid_id").distinct()
      .collect().map(r => s"centroid_id=${r.getLong(0)}").toSet
    assert(touched.size > 1)
    def cellFiles(): Map[String, Set[String]] =
      new java.io.File(s"$path/postings").listFiles().filter(_.isDirectory).map { d =>
        d.getName -> d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
      }.toMap
    val before = cellFiles()
    val (n, jobs) = JobLog.during(spark.sparkContext)(
      Ivf.appendWithCounted(Ivf.collectCentroids(cents), path, delta))
    assert(n == 60L, s"observed $n appended rows")
    cellFiles().foreach { case (cell, files) =>
      val added = (files -- before.getOrElse(cell, Set.empty)).size
      assert(added == (if (touched(cell)) 1 else 0), s"$cell gained $added files")
    }
    // the write job is the last one; its final stage writes the cells
    assert(jobs.last.finalTasks > 1, s"append wrote in one task: $jobs")
  }

  // Adversarial seeding corpus: one dense blob carries 90 % of the ids
  // CONTIGUOUSLY, so a 3-seed stride lands every seed inside it and two
  // blobs start unseeded; distance-biased seeding must find all three.
  private lazy val blobs = {
    import spark.implicits._
    def v(axis: Int, jitter: Int): Seq[Float] =
      (0 until 64).map(d => (if (d == axis) 100f else 0f) + (jitter % 7) * 0.01f)
    val big = (0L until 270L).map(i => (i, v(0, i.toInt)))
    val small1 = (270L until 285L).map(i => (i, v(1, i.toInt)))
    val small2 = (285L until 300L).map(i => (i, v(2, i.toInt)))
    (big ++ small1 ++ small2).toDF("vec_id", "embedding")
  }

  test("kmeans|| seeding finds mass the stride misses: every blob seeded, " +
    "and post-Lloyd inertia beats stride init on the adversarial corpus") {
    val init = Ivf.kmeansParallelInit(blobs, 3)
    assert(init.count() == 3L, "did not reduce to k candidates")
    // one centroid near each blob axis: the dominant coordinate says which
    val axes = init.collect().map { r =>
      val e = r.getSeq[Float](1); e.indices.maxBy(i => e(i))
    }.toSet
    assert(axes == Set(0, 1, 2), s"blobs unseeded: dominant axes $axes")
    val report = Ivf.seedingQuality(blobs, 3).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(3)))).toMap
    val (kCells, kInertia) = report("kmeans_par")
    val (sCells, sInertia) = report("stride")
    assert(kCells == 3L, s"kmeans_par lost cells: $kCells")
    assert(kInertia < sInertia || sCells == 3L,
      s"no seeding advantage: kmeans_par $kInertia vs stride $sInertia")
    assert(kInertia < 1.0, s"kmeans_par inertia not tight: $kInertia")
  }

  test("kmeans|| seeding is deterministic and partition-invariant; " +
    "k caps the output; composes with refineCentroids") {
    val a = Ivf.kmeansParallelInit(blobs, 3).collect().toSeq
    val b = Ivf.kmeansParallelInit(blobs.repartition(7), 3).collect().toSeq
    assert(a == b, "seeding is partition-sensitive")
    assert(Ivf.kmeansParallelInit(blobs, 500).count() <= 500L)
    val refined = Ivf.refineCentroids(blobs, Ivf.kmeansParallelInit(blobs, 3), 2)
    assert(refined.count() == 3L, "refinement dropped a seeded cell")
  }
}
