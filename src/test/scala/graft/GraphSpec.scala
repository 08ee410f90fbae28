package graft

import org.apache.spark.sql.functions._
import graft.operators.{BpeTrain, Clusters, Graph, Ivf, Search}
import org.apache.spark.sql.graftbridge.{PinLog, SqlBridge}

/** Integer-micro-unit PageRank (q88): differential against a
  * driver-side reference with identical floor arithmetic, structural
  * rank ordering, and mass conservation up to floor loss. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Symmetrized part–supplier graph of the sf0.001 lineitems. */
  private def partSuppEdges = Graph.symmetrize(Tables.lineitem(spark, sf0001)
    .select((col("l_partkey") * 2).as("src"),
      (col("l_suppkey") * 2 + 1).as("dst")).distinct())

  test("pageRank == driver-side integer reference on a crafted star graph") {
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("src", "dst")
    val out = Graph.pageRank(Graph.symmetrize(edges), 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    val adj = Map(0L -> Seq(1L, 2L, 3L, 4L), 1L -> Seq(0L),
      2L -> Seq(0L), 3L -> Seq(0L), 4L -> Seq(0L))
    val n = adj.size
    val teleport = (1000000L * 15) / (100L * n)
    var pr = adj.keys.map(_ -> 1000000L / n).toMap
    (1 to 3).foreach { _ =>
      val s = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      adj.foreach { case (u, nbrs) =>
        nbrs.foreach(v => s(v) += pr(u) / nbrs.length)
      }
      pr = adj.keys.map(k => k -> (teleport + 85L * s(k) / 100L)).toMap
    }
    assert(out == pr, s"distributed ranks $out != reference $pr")
    assert(out(0L) > out(1L), "the hub must outrank its leaves")
    assert(Set(1L, 2L, 3L, 4L).map(out).size == 1, "symmetric leaves must tie")
  }

  test("pageRank: positive ranks, mass conserved up to floor loss, determinism") {
    val li = Tables.lineitem(spark, sf0001)
    val out = Graph.supplyRank(li, 3, 100000).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(r.fieldIndex("pr_micro")) > 0L, s"non-positive rank: $r")
      val kind = r.getString(r.fieldIndex("kind"))
      val nodeId = r.getLong(r.fieldIndex("node_id"))
      assert((nodeId % 2 == 0) == (kind == "part"), "namespace decode wrong")
      assert(r.getLong(r.fieldIndex("key")) == nodeId / 2)
    }
    // every floor division only LOSES micro-units: total mass never
    // exceeds the initial 10^6 budget, and stays above half of it for
    // any graph whose floors don't dominate (sanity band, not theory)
    val mass = out.map(r => r.getLong(r.fieldIndex("pr_micro"))).sum
    assert(mass <= 1000000L, s"rank mass grew: $mass")
    assert(mass > 500000L, s"floor loss ate the mass: $mass")
    val again = Graph.supplyRank(li, 3, 100000).collect()
      .map(r => (r.getLong(0), r.getLong(3)))
    assert(again.toSeq == out.map(r => (r.getLong(0), r.getLong(3))).toSeq,
      "PageRank must be a pure function of the edge list")
  }

  test("fused and checkpointed-loop strategies are bit-identical on the " +
    "corpus graph and on the crafted star") {
    // iters=3 ≤ FuseMaxIters → public API takes the fused path; a
    // blockSize=1 blocked run (one checkpoint per round) is the other
    // side of the differential
    def looped(e: org.apache.spark.sql.DataFrame, iters: Int) =
      Graph.pageRankBlocked(e, iters, 85, 100, blockSize = 1)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val star = Graph.symmetrize(
      Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("src", "dst"))
    val fusedStar = Graph.pageRank(star, 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val loopStar = looped(star, 3)
    assert(fusedStar == loopStar, s"star: fused $fusedStar != loop $loopStar")

    val edges = partSuppEdges
    val fused = Graph.pageRank(edges, 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val loop = looped(edges, 3)
    assert(fused == loop,
      s"corpus graph: ${fused.size} fused vs ${loop.size} looped nodes; " +
        s"first diff: ${(fused.toSet diff loop.toSet).take(3)}")
  }

  test("block-fused deep strategy == per-round loop == repeated shallow " +
    "fusion at depth 7 (odd vs blockSize, so the tail block is short)") {
    val edges = partSuppEdges
    // public API at depth 7 dispatches to the blocked strategy
    val blocked = Graph.pageRank(edges, 7).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val looped = Graph.pageRankBlocked(edges, 7, 85, 100, blockSize = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(blocked == looped,
      s"depth 7: blocked != looped; first diff: " +
        s"${(blocked.toSet diff looped.toSet).take(3)}")
  }

  test("checkpoint pins do not accumulate past the run: each iterative " +
    "operator leaves at most the pins its returned frame reads") {
    val sc = spark.sparkContext
    val li = Tables.lineitem(spark, sf0001)
    val edges = partSuppEdges
    val docs = Tables.documents(spark, sf0001)
    // (operator, pins its returned frame reads, a run that reads the
    // whole returned frame — so a pin freed too early fails here too)
    val rows = Seq[(String, Int, () => Any)](
      ("pageRank depth 7", 1, () => Graph.pageRank(edges, 7).count()),
      ("connectedComponents", 1, () => Clusters.connectedComponents(
        edges.select(col("src").as("a"), col("dst").as("b"))).count()),
      ("coreDecomposition", 1, () => Graph.coreDecomposition(edges).count()),
      ("hitsAuthorities", 1, () => Graph.supplierAuthorities(li,
        Tables.orders(spark, sf0001), 3, 20).count()),
      ("BpeTrain.train", 0, () => BpeTrain.train(docs, 24).count()),
      ("Ivf.seedingQuality", 0, () =>
        Ivf.seedingQuality(Tables.embeddings(spark, sf0001), 8).count()),
      ("Search.sourceConfusion", 1, () => Search.sourceConfusion(docs).count()))
    // Two counts per row: the persistent-RDD registry, and PinLog's
    // pins not freed explicitly. The registry alone can pass a leaking
    // operator, because a GC inside the row lets the ContextCleaner
    // free unreachable pins.
    val leaks = rows.flatMap { case (name, kept, run) =>
      val before = sc.getPersistentRDDs.size
      val left = PinLog.leftPinned(sc)(run())
      val after = sc.getPersistentRDDs.size
      if (after > before + kept || left.size > kept)
        Some(s"$name: registry $before -> $after, ${left.size} pins left " +
          s"(allowed +$kept)")
      else None
    }
    assert(leaks.isEmpty, s"checkpoint pins leaked: ${leaks.mkString("; ")}")
    // a free of anything but a checkpoint leaf must throw, never no-op
    intercept[IllegalArgumentException](SqlBridge.unpin(edges))
  }

  test("fused path caches are bounded: a new input graph releases the " +
    "previous pair (r12 session leak)") {
    // pageRankFused caches its edge/degree inputs; the one-slot registry
    // must release the previous call's pair when a DIFFERENT graph
    // arrives — a long-lived session holds at most one cached pair, not
    // one per distinct input. Persistent-RDD count is the observable:
    // each materialized cached frame contributes one entry.
    val sc = spark.sparkContext
    val a = Graph.symmetrize(Seq((0L, 1L), (0L, 2L)).toDF("src", "dst"))
    val b = Graph.symmetrize(Seq((10L, 11L), (10L, 12L), (11L, 12L))
      .toDF("src", "dst"))
    assert(Graph.pageRank(a, 2).count() == 3)
    val afterA = sc.getPersistentRDDs.size
    assert(Graph.pageRank(b, 2).count() == 3)
    val afterB = sc.getPersistentRDDs.size
    assert(afterB <= afterA,
      s"fused caches accumulate: $afterA persistent RDDs after graph A, " +
        s"$afterB after graph B — the previous pair was not released")
    // same-input repeat keeps its shared entry (the bench shape): the
    // registry must NOT unpersist a plan-identical pair
    assert(Graph.pageRank(b, 2).count() == 3)
    assert(sc.getPersistentRDDs.size <= afterB)
  }

  test("symmetrize: both directions present exactly once") {
    val e = Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 1L)).toDF("src", "dst")
    val sym = Graph.symmetrize(e).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sym == Set((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L)))
  }

  test("personalized PageRank: hand-computed path graph, exact integers") {
    // path 1-2-3, seed 1, damping 85/100. Round 1: all mass walks to 2;
    // round 2: 2 splits back, seed teleport re-injects at 1.
    val edges = Graph.symmetrize(Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"))
    val pr = Graph.personalizedPageRank(edges, Seq(1L), iters = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pr === Map(1L -> 511250L, 2L -> 127500L, 3L -> 361250L),
      s"got $pr")
    // seed-locality: a node unreachable from the seed keeps score 0
    val twoIslands = Graph.symmetrize(
      Seq((1L, 2L), (10L, 11L)).toDF("src", "dst"))
    val pr2 = Graph.personalizedPageRank(twoIslands, Seq(1L), iters = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pr2(10L) == 0L && pr2(11L) == 0L,
      "teleport mass leaked into an unreachable component")
    assert(pr2(1L) > 0L && pr2(2L) > 0L)
    // A sink seed (destination-only node) is OUTSIDE the walkable node
    // universe: its teleport mass would silently vanish and every rank
    // read 0. That must fail fast, not degenerate.
    val directed = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst") // 3 is a sink
    val e = intercept[IllegalArgumentException] {
      Graph.personalizedPageRank(directed, Seq(3L), iters = 2)
    }
    assert(e.getMessage.contains("sink"), s"unhelpful message: ${e.getMessage}")
    // absent seeds fail the same way
    intercept[IllegalArgumentException] {
      Graph.personalizedPageRank(directed, Seq(99L), iters = 2)
    }
  }

  test("relatedParts: seed ranks first, output partition-invariant") {
    val li = Tables.lineitem(spark, sf0001)
    val out = Graph.relatedParts(li, 1L, 3, 20).collect()
    assert(out.nonEmpty)
    assert(out.head.getString(1) == "part" && out.head.getLong(2) == 1L,
      s"seed not top-ranked: ${out.head}")
    val again = Graph.relatedParts(li.repartition(7), 1L, 3, 20).collect()
    assert(out.toSeq === again.toSeq)
  }

  private def triMap(edges: Seq[(Long, Long)]) =
    Graph.triangles(edges.toDF("src", "dst")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

  test("triangles: K4 is all-triangles, path and star are triangle-free") {
    val k4 = triMap(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
    // every node of K4: degree 3, 3 triangles, coefficient exactly 1
    (1L to 4L).foreach { n => assert(k4(n) === ((3L, 3L, 1000000L)), s"node $n") }
    val path = triMap(Seq((1L, 2L), (2L, 3L), (3L, 4L)))
    assert(path.values.forall(v => v._2 == 0L && v._3 == 0L))
    val star = triMap(Seq((9L, 1L), (9L, 2L), (9L, 3L), (9L, 4L)))
    assert(star(9L) === ((4L, 0L, 0L)))
  }

  test("triangles: one triangle with a pendant — coefficient separates community from hub") {
    // triangle 1-2-3 plus pendant 4 on node 1
    val g = triMap(Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L)))
    assert(g(2L) === ((2L, 1L, 1000000L)))
    assert(g(3L) === ((2L, 1L, 1000000L)))
    // node 1: degree 3, 1 triangle of C(3,2)=3 possible -> 1/3 in micro-units
    assert(g(1L) === ((3L, 1L, 333333L)))
    assert(g(4L) === ((1L, 0L, 0L)))
  }

  test("triangles: normalization absorbs direction, duplicates, and self-loops") {
    val messy = triMap(Seq((2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L), (1L, 1L), (3L, 3L)))
    val clean = triMap(Seq((1L, 2L), (2L, 3L), (1L, 3L)))
    assert(messy === clean)
  }

  test("triangles: brute-force differential on a deterministic dense graph") {
    // edge (a,b) present iff (a*7 + b*13) % 5 < 2 — arbitrary but fixed
    val nodes = 0L until 24L
    val edges = for { a <- nodes; b <- nodes if a < b && (a * 7 + b * 13) % 5 < 2 }
      yield (a, b)
    val eSet = edges.toSet
    val expected = nodes.map { n =>
      val nbrs = nodes.filter(m => m != n &&
        (eSet.contains((n min m, n max m)))).toSeq
      val tri = (for { i <- nbrs; j <- nbrs if i < j
        if eSet.contains((i min j, i max j)) } yield 1).size.toLong
      val deg = nbrs.size.toLong
      val cc = if (deg >= 2) 2L * tri * 1000000L / (deg * (deg - 1)) else 0L
      n -> ((deg, tri, cc))
    }.filter(_._2._1 > 0).toMap
    assert(triMap(edges) === expected)
  }

  test("supplierTriangles: partition-invariant and plan has no cartesian product") {
    val li = Tables.lineitem(spark, sf0001)
    val a = Graph.supplierTriangles(li, 6, 20).collect().toSeq
    val b = Graph.supplierTriangles(li.repartition(7), 6, 20).collect().toSeq
    assert(a === b)
    assert(a.nonEmpty)
    val plan = Graph.supplierTriangles(li, 6, 20)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "triangle census must never go all-pairs")
  }

  test("neighborhoodLevels: exact BFS distances on a path graph") {
    // 0-1-2-3-4-5: at depth d, node i first reaches |{j : |i-j| = d}|
    val edges = (0L until 5L).map(i => (i, i + 1)).toDF("src", "dst")
    val levels = Graph.neighborhoodLevels(edges, 4).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    for (i <- 0L to 5L; d <- 1 to 4) {
      val expect = Seq(i - d, i + d).count(j => j >= 0L && j <= 5L).toLong
      assert(levels((i, d)) == expect, s"node $i depth $d")
    }
  }

  test("neighborhood: disconnected components never reach each other") {
    val edges = Seq((0L, 1L), (10L, 11L)).toDF("src", "dst")
    val levels = Graph.neighborhoodLevels(edges, 4).collect()
    assert(levels.map(r => r.getLong(2)).sum == 4L,
      "each node reaches exactly its one component peer")
  }

  test("coreDecomposition == sequential peeling on crafted and seeded graphs") {
    def peel(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      // textbook core numbers: repeatedly remove the min-degree node
      val adj = scala.collection.mutable.Map[Long, scala.collection.mutable.Set[Long]]()
      edges.foreach { case (a, b) =>
        adj.getOrElseUpdate(a, scala.collection.mutable.Set()) += b
        adj.getOrElseUpdate(b, scala.collection.mutable.Set()) += a
      }
      val core = scala.collection.mutable.Map[Long, Long]()
      var k = 0L
      while (adj.nonEmpty) {
        val deg = adj.map { case (n, s) => n -> s.size.toLong }
        k = math.max(k, deg.values.min)
        val victim = deg.filter(_._2 <= k).keys.min
        core(victim) = k
        adj(victim).foreach(n => adj.get(n).foreach(_ -= victim))
        adj -= victim
      }
      core.toMap
    }
    def run(edges: Seq[(Long, Long)]): Map[Long, Long] =
      Graph.coreDecomposition(edges.toDF("src", "dst")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // K4 with a pendant path: clique nodes core 3, path core 1
    val k4tail = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L),
      (2L, 3L), (3L, 4L), (4L, 5L))
    assert(run(k4tail) == peel(k4tail))
    assert(run(k4tail)(0L) == 3L && run(k4tail)(5L) == 1L)
    // seeded random graph
    val rnd = new scala.util.Random(11)
    val rand = (1 to 120).map(_ =>
      (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter(p => p._1 != p._2).distinct
    assert(run(rand) == peel(rand))
  }

  test("coreDecomposition THROWS when maxRounds exhausts unconverged — " +
    "never returns partial (too-high) estimates as exact") {
    // a 12-node path needs several h-index rounds to drain from the
    // degree init down to core 1 at the ends; maxRounds=1 cannot finish
    val path = (0L until 11L).map(i => (i, i + 1))
    val ex = intercept[IllegalStateException] {
      Graph.coreDecomposition(path.toDF("src", "dst"), maxRounds = 1).collect()
    }
    assert(ex.getMessage.contains("did not converge"), ex.getMessage)
    // and with the budget it converges to the exact answer
    val ok = Graph.coreDecomposition(path.toDF("src", "dst")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ok.values.toSet == Set(1L), s"a path is all core 1: $ok")
  }

  test("supplierHarmonicCentrality: hand-checked micro sums on a path") {
    // reuse the generic machinery through a tiny lineitem-like frame:
    // orders o shared by suppliers (i, i+1) → path co-occurrence graph
    // 6 DISTINCT shared orders per adjacent pair (the co-edge gate
    // counts distinct orders)
    val li = (0L until 5L).flatMap(i => (0L until 6L).flatMap(k =>
      Seq((i * 100 + k, i), (i * 100 + k, i + 1))))
      .toDF("l_orderkey", "l_suppkey")
    val out = Graph.supplierHarmonicCentrality(li, 6, 4, 10).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // node 0: d(1)=1, d(2)=2, d(3)=3, d(4)=4 →
    // 1000000 + 500000 + 333333 + 250000 = 2083333
    assert(out(0L) == ((4L, 2083333L)), s"got $out")
    // node 2 (middle): d1×2, d2×2, d3×1 (node 5) → within depth 4 all 5
    assert(out(2L) == ((5L, 3333333L)), s"got $out")
  }

  test("hitsAuthorities (q225): same-degree suppliers rank by their " +
    "customers' HUBNESS, not degree; integer half-rounds hand-computed; " +
    "partition-invariant") {
    import spark.implicits._
    // c1 buys s1+s2 (hub), c2 buys s1, c3 buys s3 — s2 and s3 both have
    // degree 1, but s2's buyer is the hub.
    val edges = Seq((1L, 101L), (1L, 102L), (2L, 101L), (3L, 103L))
      .toDF("c", "s")
    val out = Graph.hitsAuthorities(edges, 2, 10).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // round 1: araw = (s1 2e6, s2 1e6, s3 1e6) -> a = (1e6, 5e5, 5e5)
    //          hraw = (c1 1.5e6, c2 1e6, c3 5e5) -> h = (1e6, 666666, 333333)
    // round 2: araw = (s1 1666666, s2 1000000, s3 333333)
    //          -> a = (1000000, 600000, 199999)
    assert(out(101L)._1 == 1000000L, s"s1 must be the max authority: $out")
    assert(out(102L)._1 == 600000L, s"s2 hand value: $out")
    assert(out(103L)._1 == 199999L, s"s3 hand value: $out")
    assert(out(102L)._1 > out(103L)._1,
      "equal-degree suppliers must separate by buyer hubness")
    assert(out(101L)._2 == 2L && out(102L)._2 == 1L, s"degrees: $out")
    // determinism across partitionings (the q88 discipline)
    val li = Tables.lineitem(spark, sf0001)
    val or = Tables.orders(spark, sf0001)
    val a = Graph.supplierAuthorities(li, or, 2, 20).collect().map(_.toString).toSeq
    val b = Graph.supplierAuthorities(li.repartition(7), or.repartition(5), 2, 20)
      .collect().map(_.toString).toSeq
    assert(a == b, "HITS must not depend on partitioning")
  }
}
