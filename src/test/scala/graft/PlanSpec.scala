package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.operators._

/** Plan-shape assertions — the 100 TB contract (SURVEY.md §5). These
  * fail if a future edit silently degrades a plan into a cross join, a
  * global sort, or an unpruned scan, even though results stay correct. */
class PlanSpec extends SparkSpec {

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def docs = Tables.documents(spark, sf0001)
  private def emb = Tables.embeddings(spark, sf0001)

  test("no dedup plan contains a CartesianProduct") {
    val plans = Map(
      "exact" -> Dedup.exact(docs),
      "minhashLsh" -> Dedup.minhashLsh(docs),
      "simhash" -> Dedup.simhash(docs),
      "ngramJaccard" -> Dedup.ngramJaccard(docs),
      "cosinePairs" -> Dedup.cosinePairs(emb, 0.15))
    plans.foreach { case (name, df) =>
      val p = physical(df)
      assert(!p.contains("CartesianProduct"), s"$name plan has a CartesianProduct:\n$p")
    }
  }

  test("canonicalPick: ONE hash exchange total — count and argmax share " +
    "the content-hash shuffle, no tokenize branch, no join-back") {
    val plan = physical(Dedup.canonicalPick(docs))
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges == 1,
      s"expected exactly 1 hash exchange (plus the output range sort), got $hashExchanges:\n$plan")
    assert(!plan.contains("Join"), s"argmax must not join back:\n$plan")
    // one scan of documents, not two (a branch would re-tokenize)
    val scans = "FileScan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected 1 corpus scan, got $scans")
  }

  test("dsirWeights: exactly one explode (the single tokenize+hash pass); " +
    "the totals leg scans without exploding") {
    val plan = physical(operators.Sampling.dsirWeights(docs, Seq("src0"), 256))
    val explodes = "Generate explode".r.findAllIn(plan).size
    assert(explodes == 1,
      s"the r14 restructure promises ONE exploded token pass, got $explodes:\n$plan")
  }

  test("exact top-k compiles to TakeOrderedAndProject (no global sort)") {
    val p = physical(Knn.topKDot(emb, Knn.queryVector(emb, 0L), 20))
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrderedAndProject:\n$p")
  }

  test("query-vector lookup pushes the vec_id filter into the parquet scan") {
    val p = physical(Knn.queryVector(emb, 0L))
    assert(p.contains("PushedFilters: [IsNotNull(vec_id), EqualTo(vec_id,0)]"),
      s"vec_id filter not pushed down:\n$p")
  }

  test("scan_project prunes the documents scan to the referenced columns") {
    val p = physical(Scan.scanProject(docs))
    assert(!p.contains("text#") || !p.matches("(?s).*ReadSchema:[^\\n]*text.*"),
      s"text column not pruned from scan:\n$p")
    assert(p.matches("(?s).*ReadSchema:[^\\n]*lang[^\\n]*.*"), s"expected lang in ReadSchema:\n$p")
  }

  test("IVF assignment is map-only: zero exchanges before the output sort") {
    // build = scan → project(nearest_centroid) → orderBy. The ONLY
    // exchange allowed is the range partition feeding the contractual
    // output sort; any other Exchange means assignment regressed to a
    // join/groupBy formulation (two full-data shuffles at 100 TB).
    val p = physical(Ivf.build(emb, 25))
    assert(p.contains("nearest_centroid"), s"argmin expression missing:\n$p")
    assert("Exchange".r.findAllIn(p).size == 1,
      s"expected exactly one Exchange (output sort), got:\n$p")
    assert(!p.contains("hashpartitioning"),
      s"assignment shuffled on a hash key (join/groupBy regression):\n$p")
  }

  test("IVF inline search plans no exchange except the final top-k") {
    // searchInline = narrow postings (scan → filter on the probed cell
    // ids → project) → TakeOrderedAndProject. No hash exchange anywhere.
    val df = Ivf.searchInline(emb, 25, Knn.queryVector(emb, 0L), 2, 20)
    val p = physical(df)
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
    assert(!p.contains("hashpartitioning"),
      s"inline IVF search shuffled the postings side:\n$p")
  }

  test("IVF inline search evaluates the nearest-centroid argmin once per row") {
    // The probed-cell filter is pushed below the Project that computes
    // the inline centroid_id; a second copy of the argmin there would
    // double the cost of every row.
    val q = Knn.queryVector(emb, 0L)
    val dead = emb.where(col("vec_id") < 5).select("vec_id")
    Map(
      "searchInline" -> Ivf.searchInline(emb, 25, q, 2, 20),
      "searchInlineWithDeletes" -> Ivf.searchInlineWithDeletes(emb, 25, dead, q, 2, 20),
      "searchInlineFiltered" -> Ivf.searchInlineFiltered(emb, 25, col("label") === 3, q, 2, 20)
    ).foreach { case (name, df) =>
      val plan = df.queryExecution.optimizedPlan
      val n = plan.collect { case node => node.expressions.map(
        _.collect { case e: graft.functions.NearestCentroid => e }.size).sum }.sum
      assert(n == 1, s"$name: $n nearest-centroid evaluations in\n$plan")
    }
  }

  test("IVF search prunes postings partitions to the probed centroids") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_planspec"
    Ivf.save(emb, 25, path)
    val (postings, cents) = Ivf.load(spark, path)
    val qv = emb.where(col("vec_id") === 0L).select("embedding").head().getSeq[Float](0)
    // the client's shape (a 1-row literal frame) and a scanned lookup;
    // at 100 TB this is the difference between reading nprobe
    // partitions and the whole index
    val literal = spark.createDataFrame(java.util.List.of(Row(qv)),
      StructType(Seq(StructField("qv", ArrayType(FloatType)))))
    Seq("literal frame" -> literal, "Knn.queryVector" -> Knn.queryVector(emb, 0L)).foreach {
      case (name, q) =>
        val (read, probed) = IvfSpec.filesReadVsProbed(
          Ivf.search(postings, cents, q, 2, 20), s"$path/postings", cents, q, 2)
        assert(read > 0 && read <= probed,
          s"$name: postings scan read $read files; the 2 probed cells hold $probed")
    }
  }

  test("events rollup aggregates with a partial (map-side) stage") {
    val p = physical(Events.rollup(Tables.events(spark, sf0001)))
    assert(p.contains("partial"), s"no partial aggregation stage:\n$p")
  }

  test("as-of join and LSH cosine have no CartesianProduct") {
    val asof = physical(AsOf.purchaseAttribution(Tables.events(spark, sf0001)))
    assert(!asof.contains("CartesianProduct"), s"asof:\n$asof")
    val lsh = physical(Dedup.cosineLsh(emb, 8, 4, 0.15))
    assert(!lsh.contains("CartesianProduct"), s"lsh:\n$lsh")
  }

  test("revenue-by-nation broadcasts the nation dimension and pushes the date filter") {
    val df = Analytics.revenueByNation(
      Tables.lineitem(spark, sf0001), Tables.orders(spark, sf0001),
      Tables.customer(spark, sf0001), Tables.nation(spark, sf0001))
    val p = physical(df)
    assert(p.contains("BroadcastHashJoin"), s"nation not broadcast:\n$p")
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(o_orderdate.*"),
      s"orderdate filter not pushed:\n$p")
  }

  test("pricing summary pushes the shipdate filter into the lineitem scan") {
    val p = physical(Analytics.pricingSummary(Tables.lineitem(spark, sf0001)))
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*LessThanOrEqual\\(l_shipdate.*"),
      s"shipdate filter not pushed:\n$p")
  }

  test("shingleRows is shuffle-free (narrow map + generate)") {
    val p = physical(Dedup.shingleRows(docs, 3))
    assert(!p.contains("Exchange"), s"unexpected shuffle in shingleRows:\n$p")
  }

  test("Q3-shape top-10 is a bounded TakeOrdered with both date filters pushed") {
    val df = Analytics.shippingPriority(
      Tables.lineitem(spark, sf0001), Tables.orders(spark, sf0001),
      Tables.customer(spark, sf0001), "BUILDING", "1998-06-01")
    val p = physical(df)
    assert(p.contains("TakeOrderedAndProject"), s"top-10 fell back to a global sort:\n$p")
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*GreaterThan\\(l_shipdate.*"),
      s"shipdate filter not pushed:\n$p")
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*LessThan\\(o_orderdate.*"),
      s"orderdate filter not pushed:\n$p")
  }

  test("Q4-shape priority count plans a semi join, not an inner join") {
    val df = Analytics.priorityOrderCount(
      Tables.orders(spark, sf0001), Tables.lineitem(spark, sf0001),
      "1997-01-01", "1997-04-01")
    val p = physical(df)
    assert(p.contains("LeftSemi"), s"expected a LeftSemi join:\n$p")
  }

  test("bloom decontamination's gate is a narrow filter: no exchange added over the plain plan") {
    def exchanges(df: DataFrame): Int =
      "(?<!Reused)Exchange".r.findAllIn(physical(df)).length
    val plain = CorpusPipeline.ngramContamination(docs, 3)
    val bloom = CorpusPipeline.bloomNgramContamination(docs, 3, mBits = 1 << 18)
    // The bloom build runs as separate bounded jobs at construction
    // time; the MAIN plan must shuffle no more than the ungated one —
    // the gate rides the train scan as a codegen'd filter.
    assert(exchanges(bloom) <= exchanges(plain),
      s"gate added an exchange: plain=${exchanges(plain)} bloom=${exchanges(bloom)}")
    assert(physical(bloom).contains("element_at"),
      "expected the bloom word-array probe inside the main plan")
  }

  test("embedding drift is one argmin pass: no exchange below the per-cell aggregate") {
    val df = Clusters.embeddingDrift(emb, 25)
    val p = physical(df)
    assert(!p.contains("CartesianProduct"), s"drift plan has a CartesianProduct:\n$p")
    // The vectors scan must feed a partial aggregate directly — the
    // q09 map-only-assignment claim carried into the drift report.
    val scanIdx = p.indexOf("FileScan parquet")
    assert(scanIdx >= 0)
    val aboveScan = p.substring(0, scanIdx)
    assert(aboveScan.contains("HashAggregate"),
      s"expected a partial aggregate above the vectors scan:\n$p")
  }

  test("corpusShuffle windows per shard, never over a single partition") {
    val df = CorpusPipeline.corpusShuffle(docs, epoch = 1, nShards = 8)
    val p = physical(df)
    // The position window must partition by shard — a bare
    // Window.orderBy would plan Exchange SinglePartition and serialize
    // the whole corpus through one task at 100 TB.
    assert(!p.contains("SinglePartition"),
      s"corpusShuffle collapsed to a single-partition window:\n$p")
    assert(p.contains("Window"), s"expected a window operator:\n$p")
    assert("hashpartitioning\\(shard".r.findFirstIn(p).isDefined,
      s"expected the window exchange keyed on shard:\n$p")
  }

  test("bootstrap CIs are ONE aggregation pass: a single shuffle exchange, no joins") {
    val p = physical(Profile.bootstrapMeans(docs, reps = 8))
    // rangepartitioning for the final orderBy + ONE hashpartitioning
    // for the per-source aggregate — nothing else moves data.
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1, s"bootstrap should shuffle once, found $hashEx hash exchanges:\n$p")
    assert(!p.contains("Join"), s"bootstrap plan should not join:\n$p")
  }

  test("boilerplate removal: no CartesianProduct, no forced broadcast of the growing common-span side") {
    val df = CorpusPipeline.boilerplateRemoval(docs, 8, 2)
    val p = physical(df)
    assert(!p.contains("CartesianProduct"), s"boilerplate plan has a CartesianProduct:\n$p")
    // The verdict join keys on the 8-byte span hash.
    assert(p.contains("h#") || p.contains("[h"), "span-hash join key missing from the plan")
  }

  test("hard negatives: panel broadcast into one corpus scan, predicates inside the join, " +
    "GroupedTopK heads (no sort-based rank)") {
    val mined = Knn.hardNegatives(emb, Knn.labeledPanel(emb, Seq(0L, 7L)), 5, 0.995)
    val p = physical(mined)
    assert(p.contains("BroadcastNestedLoopJoin"), "panel should broadcast into the scan")
    assert(p.contains("GroupedTopKPartial"), "per-query heads should use the bounded heaps")
    assert(!p.contains("SortMergeJoin"), s"corpus should never shuffle for the panel join:\n$p")
    assert(!p.contains("Window"), "rank should come from heaps, not a window")
  }

  test("sample index places the stream with bucket windows, never a global " +
    "range sort below the final orderBy") {
    val df = CorpusPipeline.sampleIndex(docs, 128, 1)
    val p = physical(df)
    assert(!p.contains("CartesianProduct"), s"cartesian in sampleIndex:\n$p")
    // exactly one rangepartitioning exchange: the FINAL orderBy. The
    // placement itself must ride hash exchanges (two-pass buckets).
    val ranges = "rangepartitioning".r.findAllIn(p).length
    assert(ranges <= 1, s"placement leaked a global sort ($ranges rangepartitionings):\n$p")
  }

  test("packed tokens: the vocab id map attaches via broadcast, never a " +
    "shuffled join of the token stream against the vocabulary") {
    val df = CorpusPipeline.packedTokens(docs, 64, 1, 100)
    val p = physical(df)
    assert(p.contains("BroadcastHashJoin"), s"vocab join not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in packedTokens:\n$p")
  }

  test("changepoint: per-type stats broadcast back; the hourly aggregate is partial") {
    val df = Events.changepoint(Tables.events(spark, sf0001))
    val p = physical(df)
    assert(p.contains("BroadcastHashJoin"), s"stats join should broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"hourly frame should never shuffle for stats:\n$p")
  }

  test("cluster-balanced sample: broadcast-centroid assignment (no exchange " +
    "below the per-cell heads) and GroupedTopK heaps, not a window sort") {
    val df = Sampling.clusterBalancedSample(emb, 10, 4)
    val p = physical(df)
    assert(p.contains("GroupedTopKPartial"), s"per-cell cap should use bounded heaps:\n$p")
    assert(!p.contains("Window"), "cap should come from heaps, not a window rank")
  }

  test("moving revenue: the RANGE window runs over the daily PRE-AGGREGATE, not the event stream") {
    val df = Events.movingDailyRevenue(Tables.events(spark, sf0001), 7)
    val p = physical(df)
    // The window must sit ABOVE a HashAggregate (daily rollup), i.e.
    // the aggregate appears below the Window operator in the plan tree.
    val winIdx = p.indexOf("Window")
    val aggIdx = p.indexOf("HashAggregate", winIdx)
    assert(winIdx >= 0 && aggIdx > winIdx,
      s"expected Window over the daily HashAggregate:\n$p")
  }

  test("holt forecast: exactly two exchanges (hourly rollup + per-type collect), " +
    "fold runs as a project above the aggregate — never a window or join") {
    val p = physical(Events.holtForecast(Tables.events(spark, sf0001), 2, 1, 10, 3))
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles == 2, s"expected 2 hash exchanges, got $shuffles:\n$p")
    assert(!p.contains("Window") && !p.contains("Join"),
      s"the fold must not plan windows or joins:\n$p")
  }

  test("active users: the raw stream collapses to bitmaps MAP-SIDE before any " +
    "exchange; window fan-out replicates bitmaps, not event rows") {
    val p = physical(Events.activeUsers(Tables.events(spark, sf0001)))
    assert(p.contains("partial_bitmap_build"),
      s"per-day bitmaps must partial-aggregate map-side:\n$p")
    // the 7/30-day fan-out generates over the AGGREGATED bitmap frame:
    // every Generate(explode(sequence...)) sits above a bitmap_build agg
    val genIdx = p.indexOf("Generate explode(sequence")
    assert(genIdx >= 0 &&
      p.indexOf("bitmap_build", genIdx) >= 0,
      s"window fan-out must explode day-bitmaps, not events:\n$p")
  }

  test("audience overlap: the pair join carries bitmap rows (types^2), " +
    "never per-user rows — user_id is aggregated away below the join") {
    val p = physical(Events.audienceOverlap(Tables.events(spark, sf0001)))
    // below the pair join there must be a bitmap_build aggregate, and the
    // join itself must not key on user_id
    assert(p.contains("bitmap_build"), s"per-type bitmaps missing:\n$p")
    val joinIdx = p.indexOf("Join")
    assert(joinIdx >= 0, s"pair join missing:\n$p")
    assert(!p.substring(0, joinIdx).contains("user_id"),
      s"user rows leaked above the bitmap aggregate:\n$p")
  }

  test("covisitation: both top-k stages run as GroupedTopK partial+final " +
    "(bounded heaps), never a row_number window") {
    val p = physical(Events.covisitation(Tables.events(spark, sf0001), 15, 5))
    assert(p.contains("GroupedTopKPartial") && p.contains("GroupedTopKFinal"),
      s"GroupedTopK exec missing:\n$p")
    assert(!p.contains("Window"), s"covisitation must not window-sort:\n$p")
  }

  test("skyline (q195): no CartesianProduct, no global window — the " +
    "frontier side broadcasts") {
    val p = physical(Skyline.bestCustomers(Tables.orders(spark, sf0001)))
    assert(!p.contains("CartesianProduct"), s"skyline went quadratic:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"frontier groups must broadcast into the probe join:\n$p")
    // the only window is per-__pid (range-partitioned), never global
    assert(p.contains("windowspecdefinition(__pid"),
      s"the running max must partition by __pid:\n$p")
  }

  test("theta sketch (q194): map-side partial sketches — ids never shuffle") {
    val p = physical(Sketches.audienceAlgebra(Tables.orders(spark, sf0001), 64))
    assert(p.contains("partial_theta_sketch"),
      s"sketch build must run a partial (map-side) stage:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"sketch agg must be ObjectHashAggregate (object buffer):\n$p")
  }

  test("attribution panel (q204): one user-grain exchange feeds every model") {
    val p = physical(Attribution.modelPanel(Tables.events(spark, sf0001), "purchase"))
    assert(!p.contains("CartesianProduct"), s"panel went quadratic:\n$p")
    val userExchanges = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).length
    assert(userExchanges == 1,
      s"expected ONE user-grain exchange shared by the windows, got $userExchanges:\n$p")
  }

  test("CUPED (q202): the pooled-moment frame broadcasts, never joins by shuffle") {
    val p = physical(Experiments.cupedReadout(Tables.events(spark, sf0001)))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"1-row moment frames must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no shuffle join belongs here:\n$p")
  }

  test("trigram lookup (q210): the query's trigram literals prune BEFORE the " +
    "per-candidate score — no cross join, no all-terms window") {
    val p = physical(Search.trigramLookup(docs, "hashing", 0.25, 5))
    assert(!p.contains("CartesianProduct"), s"lookup went quadratic:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrdered, not a global sort:\n$p")
    assert(p.contains(" IN ") || p.contains("INSET"),
      s"the trigram literal filter must appear in the plan:\n$p")
  }

  test("peak concurrency (q211): the day-offset frame BROADCASTS back — " +
    "no type-wide ordering exchange on the big side") {
    val p = physical(Events.peakConcurrency(Tables.events(spark, sf0001)))
    assert(p.contains("BroadcastExchange"),
      s"the days-by-types offset frame must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the offset join must not shuffle the delta stream:\n$p")
    // within-bucket windows partition by (type, bucket), never type alone
    assert(!"Window.*partitionBy.*event_type#\\d+\\]".r.findFirstIn(p).isDefined ||
      p.contains("bucket"), s"window must include the day bucket:\n$p")
  }

  test("quantile sample (q212): map-side partial sample — values never " +
    "shuffle raw, the exchange carries O(k) buffers") {
    val p = physical(Profile.sketchQuantiles(docs, "source", "n_chars",
      "doc_id", 256, Seq(50, 90, 99)))
    assert(p.contains("partial_quantile_sample"),
      s"sample build must run a partial (map-side) stage:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"sample agg must be ObjectHashAggregate (object buffer):\n$p")
  }

  test("CMS panel (q213): the sketch builds as a map-side partial " +
    "object aggregate and broadcasts — tokens never shuffle for it") {
    val p = physical(Sketches.cmsTermPanel(docs, 4, 1024, 20))
    assert(p.contains("partial_count_min_sketch"),
      s"grid build must run a partial (map-side) stage:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"CMS agg must be ObjectHashAggregate:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"the 1-row sketch must broadcast into the panel:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"panel x sketch must never be a CartesianProduct:\n$p")
  }

  test("sequential test (q214): the look frame joins its histograms " +
    "broadcast — nothing user-grain crosses a sort-merge join") {
    val p = physical(Experiments.sequentialReadout(
      Tables.events(spark, sf0001), "purchase", 0.1, 0.05))
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    // cumulative windows run on the bounded (arm, day) frame: the only
    // window partitions by arm (2) or orders the day frame globally —
    // the raw event stream itself must reach no Window operator
    assert(p.contains("Window"), s"running sums must be windows:\n$p")
  }

  test("linkage (q215): the u-moment frame broadcasts; candidates come " +
    "from the blocked equi-join, never a CartesianProduct") {
    val p = physical(Linkage.linkageScores(docs, 128, 50,
      0.95, 0.9, 0.8, 0.85))
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"the 1-row u frame must broadcast:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"the (w1, sub) candidate join must be an equi-join:\n$p")
  }

  test("association rules (q216): supports join back BROADCAST — the " +
    "pair frame never re-shuffles for the brand-grain frames") {
    val p = physical(Analytics.associationRules(
      Tables.lineitem(spark, sf0001), Tables.part(spark, sf0001), 1, 50))
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    val bhj = "BroadcastHashJoin".r.findAllIn(p).size
    assert(bhj >= 2,
      s"item-support joins must broadcast (got $bhj BroadcastHashJoin):\n$p")
  }

  test("communities (q218): one LPA round is join + two hash aggregates " +
    "— no cartesian, no sort (asserted PRE-checkpoint: the loop output " +
    "is a checkpoint scan and would make this vacuous)") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val und = edges.union(edges.select($"dst".as("src"), $"src".as("dst")))
    val labels = und.select($"src".as("v")).distinct()
      .withColumn("label", $"v")
    val p = physical(Graph.lpaRound(und, labels))
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(!"Sort \\[label".r.findFirstIn(p).isDefined,
      s"label argmax must be an aggregate, not a sort:\n$p")
    assert(p.contains("HashAggregate"),
      s"ballot count + argmax must be hash aggregates:\n$p")
  }

  test("communities (q218 shipped path): the LSH-candidate kNN stage " +
    "has NO cartesian/broadcast-nested-loop anywhere — candidates come " +
    "from bucket equi-joins, top-k from the bounded-heap plan") {
    val vecs = Tables.embeddings(spark, sf0001)
    val dir = Clusters.candidateScores(vecs,
      Dedup.lshCandidatesMultiProbe(vecs, 4, 2))
    val p = physical(Clusters.directedKnn(dir, 6))
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"no nested loop:\n$p")
    assert(p.contains("GroupedTopK") || p.contains("TopK"),
      s"per-source top-k must be the bounded-heap operator:\n$p")
  }

  test("CDC dedup (q219): chunking is map-side (no exchange before the " +
    "chunk-hash aggregate); canonical pick is a hash groupBy") {
    val p = physical(Dedup.cdcDedupReport(docs, 5, 16, 128))
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(p.contains("gear_chunks"),
      s"the chunker must appear as the codegen'd expression:\n$p")
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans <= 2, s"chunk frame must not re-scan per stage: $scans")
  }
}
