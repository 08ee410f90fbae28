package e2ebench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, StructField, StructType}

import graft.Tables
import graft.operators._

/** What a workload gets from the run: its seed, the host sizing and its
  * directories. Input sizes are constants of each workload, so every run
  * of a workload does the same work. */
final case class Ctx(seed: Long, cpus: Int, work: String) {
  val data = s"$work/inputs"
  val out = s"$work/outputs"
}

/** Operations attempted and failed. Every call into graft is one
  * operation; it fails if it throws or if its output fails its check. */
final class Ledger {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  def op(): Unit = attempted += 1
  def check(name: String, ok: Boolean, detail: => String): Unit =
    if (!ok) { failed += 1; if (failures.size < 20) failures += s"$name: $detail" }
  def fail(name: String, e: Throwable): Unit = {
    failed += 1
    if (failures.size < 20) failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
  }
}

trait Workload {
  /** Generate the inputs (and anything the timed region assumes exists). */
  def setup(spark: SparkSession): Unit
  /** Checksums of the generated inputs, by input name. */
  def checksums(spark: SparkSession): Map[String, String]
  /** Sizes of the generated inputs, for the result. */
  def sizes: Map[String, Double]
  /** Untimed, after the set-ups: whatever must happen before the timed
    * pass (warming a server, computing expected values). */
  def warmup(spark: SparkSession, l: Ledger): Unit
  /** The timed pass. Returns the output checks, which run after the
    * pass clock stops. */
  def pass(spark: SparkSession, t: Tracer, l: Ledger): () => Unit
  /** Untimed, after the pass: the share of true answers found. */
  def recall(spark: SparkSession, l: Ledger): Double
  /** Per-operation latencies in milliseconds, by operation. */
  val latencies: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  def lat(name: String, ms: Double): Unit = latencies.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms
  /** Extra numbers for the result (index bytes, ...). */
  def extra(spark: SparkSession): Map[String, Double] = Map.empty
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "ref_pipeline" => new RefPipeline(ctx)
    case "ann_serve" => new AnnServe(ctx)
    case "corpus_curation" => new CorpusCuration(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The stated floor of the recall checks. */
  val RecallFloor = 0.8

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Run one operation: count it, and count it failed if it throws. */
  def op[T](l: Ledger, name: String)(body: => T): Option[T] = {
    l.op()
    try Some(body)
    catch { case scala.util.control.NonFatal(e) => l.fail(name, e); None }
  }

  /** A 1-row literal query frame (column `qv`), as a client would send it. */
  def queryFrame(spark: SparkSession, qv: Array[Float]): DataFrame =
    spark.createDataFrame(java.util.Collections.singletonList(Row(qv.toSeq)),
      StructType(Seq(StructField("qv", ArrayType(FloatType, containsNull = true)))))

  /** k rows, scores non-increasing, ids ascending within equal scores. */
  def ranked(rows: Seq[(Long, Double)], k: Int): Boolean =
    rows.size == k && rows.zip(rows.drop(1)).forall { case ((ia, sa), (ib, sb)) =>
      sa > sb || (sa == sb && ia < ib)
    }

  /** query_id → ranked (vec_id, score) from a batched search result. */
  def byQuery(rows: Array[Row]): Map[Long, Seq[(Long, Double)]] =
    rows.toSeq.map(r => (r.getAs[Long]("query_id"), (r.getAs[Long]("vec_id"), r.getAs[Double]("score"))))
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2) }

  def recallOf(approx: Seq[Long], exact: Seq[Long]): Double =
    if (exact.isEmpty) 1.0 else approx.toSet.intersect(exact.toSet).size.toDouble / exact.size

  /** (data files, bytes) of the parquet files under `dir`. */
  def parquetFiles(dir: String): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val fs = walk(new File(dir)).filter(_.getName.endsWith(".parquet"))
    (fs.size.toLong, fs.map(_.length).sum)
  }
}

import Workload._

// -------------------------------------------------------------- ref_pipeline

/** The paper's flow as one pass: read → describe → project → tokenize
  * → cost → export → global order → IVF build → persist → load → search
  * → recall audit against exact truth. */
final class RefPipeline(ctx: Ctx) extends Workload {
  private val rows = 6000
  private val mixture = Gen.Mixture(ctx.seed, 384, 100, 0.03)
  private val spec = Gen.Dbpedia(mixture, Gen.Zipf(ctx.seed, 20000, 1.0), rows, 20, 60)
  private val panel = 100
  private val dir = s"${ctx.out}/ref"
  private val index = s"$dir/index"
  private lazy val expectedTokens = spec.expectedTokens
  private var textBytes = 0.0
  private var found = 0.0

  def setup(spark: SparkSession): Unit = {
    Gen.writeDbpedia(spark, spec, s"${ctx.data}/dbpedia.parquet", ctx.cpus)
    Gen.writePanel(spark, mixture, panel, s"${ctx.data}/panel.parquet")
  }

  def checksums(spark: SparkSession): Map[String, String] = Map(
    "dbpedia" -> Gen.checksum(Tables.load(spark, ctx.data, "dbpedia")),
    "panel" -> Gen.checksum(Tables.load(spark, ctx.data, "panel")))

  def sizes: Map[String, Double] = Map("rows" -> rows.toDouble, "dim" -> mixture.dim.toDouble,
    "panel" -> panel.toDouble, "text_bytes" -> textBytes)

  /** A batch job runs once in a fresh JVM, so its pass is timed cold:
    * compiling the code is part of what its user waits for. (A fresh
    * Spark JVM needs four or more passes to reach a steady state, and a
    * pass two or three is the least repeatable point to time.) */
  def warmup(spark: SparkSession, l: Ledger): Unit =
    textBytes = Tables.load(spark, ctx.data, "dbpedia")
      .agg(sum(length(concat_ws(" ", col("title"), col("text"))))).collect()(0).getLong(0).toDouble

  def pass(spark: SparkSession, t: Tracer, l: Ledger): () => Unit = {
    val k = 20
    val checks = mutable.ArrayBuffer.empty[() => Unit]
    val vecs = t.span("scan") { op(l, "scan")(Tables.load(spark, ctx.data, "dbpedia")).get }
    val files = vecs.inputFiles.toSeq
    t.span("Metadata.describeFiles", "files" -> files.size.toDouble) {
      op(l, "Metadata.describeFiles") {
        Metadata.describeFiles(spark, files.map(f => ("dbpedia", f))).collect()
      }
    }.foreach { m =>
      checks += (() => l.check("Metadata.describeFiles", m.map(_.num_rows).sum == rows,
        s"footers count ${m.map(_.num_rows).sum} rows, expected $rows"))
    }
    t.span("Scan.typedProject") { op(l, "Scan.typedProject")(noop(Scan.typedProject(spark, vecs))) }
    t.span("Scan.embeddingCast") { op(l, "Scan.embeddingCast")(noop(Scan.embeddingCast(vecs))) }
    val docs = vecs.select(col("vec_id").as("doc_id"),
      concat_ws(" ", col("title"), col("text")).as("text"),
      lit("en").as("lang"), lit("dbpedia").as("source"), length(col("text")).as("n_chars"))
    t.span("TextAnalysis.tokenCount", "text_bytes" -> textBytes) {
      op(l, "TextAnalysis.tokenCount")(noop(TextAnalysis.tokenCount(docs)))
    }
    t.span("TextAnalysis.tokenCost") {
      op(l, "TextAnalysis.tokenCost")(TextAnalysis.tokenCost(docs).collect()(0))
    }.foreach { r =>
      checks += (() => l.check("TextAnalysis.tokenCost", r.getAs[Long]("total_tokens") == expectedTokens,
        s"total_tokens ${r.getAs[Long]("total_tokens")}, generator wrote $expectedTokens"))
    }
    t.span("Scan.exportJson") { op(l, "Scan.exportJson")(Scan.exportJson(docs, 100, s"$dir/sample")) }
      .foreach { _ =>
        checks += (() => {
          val ids = spark.read.json(s"$dir/sample").select("doc_id").collect().map(_.getLong(0)).toSeq
          l.check("Scan.exportJson", ids == (0L until math.min(100, rows)), s"exported ids ${ids.take(5)}...")
        })
      }
    t.span("Scan.globalIndex") {
      op(l, "Scan.globalIndex")(Scan.globalIndex(vecs).write.mode("overwrite").parquet(s"$dir/order"))
    }.foreach { _ =>
      checks += (() => {
        val r = spark.read.parquet(s"$dir/order")
          .agg(count(lit(1)), countDistinct(col("idx")), min("idx"), max("idx"),
            sum(when(col("idx") =!= col("vec_id"), 1).otherwise(0))).collect()(0)
        l.check("Scan.globalIndex",
          r.getLong(0) == rows && r.getLong(1) == rows && r.getLong(2) == 0 &&
            r.getLong(3) == rows - 1 && r.getLong(4) == 0,
          s"index is not 0..${rows - 1} in id order: $r")
      })
    }
    t.span("Ivf.save", "rows" -> rows.toDouble) {
      op(l, "Ivf.save") {
        val step = Ivf.autoStep(vecs)
        val (nPost, nCent) = Ivf.saveCounted(vecs, step, index)
        t.attr("cells", nCent.toDouble)
        (nPost, nCent)
      }
    }.foreach { case (nPost, nCent) =>
      checks += (() => l.check("Ivf.save", nPost == rows && nCent > 0, s"wrote $nPost postings, $nCent cells"))
    }
    if (t.enabled) t.spans.lastOption.foreach { s =>
      val (f, b) = parquetFiles(s"$index/postings")
      s.attrs("files_written") = f.toDouble
      s.attrs("output_bytes") = b.toDouble
    }
    val (postings, cents) = t.span("Ivf.load") { op(l, "Ivf.load")(Ivf.load(spark, index)).get }
    val qid = 0
    val q = mixture.point(Gen.Query, qid)._2
    t.span("Ivf.search", "results" -> k.toDouble) {
      op(l, "Ivf.search")(Ivf.search(postings, cents, queryFrame(spark, q), k).collect())
    }.foreach { res =>
      checks += (() => l.check("Ivf.search",
        ranked(res.toSeq.map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("score"))), k),
        s"query $qid returned ${res.length} rows or out of order"))
    }
    val panelDf = Tables.load(spark, ctx.data, "panel")
    t.span("recall_audit") {
      val approx = t.span("Ivf.searchBatch", "results" -> (k * panel).toDouble) {
        op(l, "Ivf.searchBatch")(Ivf.searchBatch(postings, cents, panelDf, k).collect())
      }
      val exact = t.span("Knn.topKDotBatch", "queries" -> panel.toDouble, "rows" -> rows.toDouble) {
        op(l, "Knn.topKDotBatch")(Knn.topKDotBatch(vecs, panelDf, k).collect())
      }
      for (a <- approx; e <- exact) checks += (() => {
        val (aq, eq) = (byQuery(a), byQuery(e))
        l.check("Ivf.searchBatch", aq.size == panel && aq.values.forall(ranked(_, k)),
          s"${aq.size} of $panel queries answered, or not ranked")
        l.check("Knn.topKDotBatch", eq.size == panel && eq.values.forall(ranked(_, k)),
          s"${eq.size} of $panel queries answered, or not ranked")
        val r = eq.keys.toSeq.map(q => recallOf(aq.getOrElse(q, Nil).map(_._1), eq(q).map(_._1)))
        found = r.sum / r.size
      })
    }
    () => checks.foreach(_())
  }

  def recall(spark: SparkSession, l: Ledger): Double = {
    l.check("recall_at_20", found >= RecallFloor, f"recall@20 $found%.4f below the floor $RecallFloor")
    found
  }

  override def extra(spark: SparkSession): Map[String, Double] = {
    val (_, idxBytes) = parquetFiles(index)
    Map("index_bytes" -> idxBytes.toDouble,
      "input_vector_bytes" -> rows.toDouble * mixture.dim * 4,
      "index_bytes_per_input_byte" -> idxBytes / (rows.toDouble * mixture.dim * 4))
  }
}

// ----------------------------------------------------------------- ann_serve

/** A persisted index under a closed loop of one client: single-query
  * searches with a delta batch appended (and the index reloaded) every
  * 3 queries, 3 appends in all, then one batched search over the panel. The warm-up
  * appends one more batch, so the loop starts from base + that batch. */
final class AnnServe(ctx: Ctx) extends Workload {
  private val rows = 5000
  private val mixture = Gen.Mixture(ctx.seed, 384, 100, 0.03)
  private val panel = 50
  private val queries = 12
  private val every = 3
  private val deltaRows = 250
  private val appends = (queries - 1) / every
  private val index = s"${ctx.out}/ann/index"
  private def deltaPath(b: Int) = s"${ctx.data}/delta_$b.parquet"
  private def deltaStart(b: Int): Long = rows.toLong + b.toLong * deltaRows
  private val warmDelta = appends // one extra batch, appended by the warm-up

  private var postings: DataFrame = _
  private var cents: DataFrame = _
  private var cs: graft.functions.CentroidSet = _
  /** (query id, deltas applied, returned ids) for every answered query. */
  private val answered = mutable.ArrayBuffer.empty[(Long, Int, Seq[Long])]

  def setup(spark: SparkSession): Unit = {
    Gen.vectorFrame(spark, mixture, Gen.Base, 0, rows, ctx.cpus)
      .write.mode("overwrite").parquet(s"${ctx.data}/vectors.parquet")
    Gen.writePanel(spark, mixture, panel, s"${ctx.data}/panel.parquet")
    for (b <- 0 to appends)
      Gen.vectorFrame(spark, mixture, Gen.Delta, deltaStart(b), deltaRows, 1)
        .write.mode("overwrite").parquet(deltaPath(b))
    build(spark)
  }

  /** Build the index from the base vectors and load it. */
  private def build(spark: SparkSession): Unit = {
    val base = Tables.load(spark, ctx.data, "vectors")
    Ivf.save(base, Ivf.autoStep(base), index)
    load(spark)
    cs = Ivf.collectCentroids(cents)
  }

  private def load(spark: SparkSession): Unit = {
    val (p, c) = Ivf.load(spark, index)
    postings = p
    cents = c
  }

  def checksums(spark: SparkSession): Map[String, String] =
    Map("vectors" -> Gen.checksum(Tables.load(spark, ctx.data, "vectors")),
      "panel" -> Gen.checksum(Tables.load(spark, ctx.data, "panel"))) ++
      (0 to appends).map(b => s"delta_$b" -> Gen.checksum(spark.read.parquet(deltaPath(b))))

  /** Index contents after `v` loop appends. */
  private def contents(spark: SparkSession, v: Int): DataFrame =
    (warmDelta +: (0 until v)).foldLeft(Tables.load(spark, ctx.data, "vectors"))(
      (df, b) => df.unionByName(spark.read.parquet(deltaPath(b))))

  def sizes: Map[String, Double] = Map("rows" -> rows.toDouble, "dim" -> mixture.dim.toDouble,
    "panel" -> panel.toDouble, "queries" -> queries.toDouble, "append_every" -> every.toDouble,
    "delta_rows" -> deltaRows.toDouble, "appends" -> appends.toDouble)

  def warmup(spark: SparkSession, l: Ledger): Unit = {
    val t = new Tracer(spark, false)
    for (i <- 0 until 2) search(spark, t, l, i, 0, record = false)
    append(spark, t, l, warmDelta)
    Ivf.searchBatch(postings, cents, Tables.load(spark, ctx.data, "panel"), 20).collect()
    latencies.clear()
  }

  private def search(spark: SparkSession, t: Tracer, l: Ledger, qid: Int, version: Int,
                     record: Boolean): Unit = {
    val k = 20
    val qv = mixture.point(Gen.Query, qid)._2
    val t0 = System.nanoTime()
    t.span("Ivf.search", "results" -> k.toDouble) {
      op(l, "Ivf.search")(Ivf.search(postings, cents, queryFrame(spark, qv), k).collect())
    }.foreach { res =>
      if (record) lat("search", (System.nanoTime() - t0) / 1e6)
      val hits = res.toSeq.map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("score")))
      l.check("Ivf.search", ranked(hits, k), s"query $qid returned ${hits.size} rows or out of order")
      if (record) answered += ((qid.toLong, version, hits.map(_._1)))
    }
  }

  /** Append delta batch `b`, reload, and check the index now finds
    * a vector of that batch (read-your-writes). */
  private def append(spark: SparkSession, t: Tracer, l: Ledger, b: Int): Unit = {
    val t0 = System.nanoTime()
    val before = if (t.enabled) parquetFiles(s"$index/postings") else (0L, 0L)
    t.span("Ivf.appendWith", "rows" -> deltaRows.toDouble,
        "input_bytes" -> deltaRows.toDouble * mixture.dim * 4) {
      op(l, "Ivf.appendWith")(Ivf.appendWithCounted(cs, index, spark.read.parquet(deltaPath(b))))
    }.foreach(n => l.check("Ivf.appendWith", n == deltaRows, s"appended $n of $deltaRows rows"))
    lat("append", (System.nanoTime() - t0) / 1e6)
    if (t.enabled) {
      val after = parquetFiles(s"$index/postings")
      t.spans.reverseIterator.find(_.name == "Ivf.appendWith").foreach { s =>
        s.attrs("files_written") = (after._1 - before._1).toDouble
        s.attrs("output_bytes") = (after._2 - before._2).toDouble
      }
    }
    t.span("Ivf.load") { op(l, "Ivf.load")(load(spark)) }
    val probe = deltaStart(b) + b % deltaRows
    val qv = mixture.point(Gen.Delta, probe)._2
    val t1 = System.nanoTime()
    t.span("Ivf.search", "results" -> 20.0) {
      op(l, "Ivf.search")(Ivf.search(postings, cents, queryFrame(spark, qv), 20).collect())
    }.foreach { res =>
      lat("read_your_writes", (System.nanoTime() - t1) / 1e6)
      l.check("read_your_writes", res.exists(_.getAs[Long]("vec_id") == probe),
        s"appended vector $probe not found after append $b")
    }
  }

  def pass(spark: SparkSession, t: Tracer, l: Ledger): () => Unit = {
    var applied = 0
    for (i <- 0 until queries) {
      if (i > 0 && i % every == 0 && applied < appends) {
        append(spark, t, l, applied)
        applied += 1
      }
      search(spark, t, l, i % panel, applied, record = true)
    }
    val panelDf = Tables.load(spark, ctx.data, "panel")
    val t0 = System.nanoTime()
    t.span("Ivf.searchBatch", "results" -> 20.0 * panel) {
      op(l, "Ivf.searchBatch")(Ivf.searchBatch(postings, cents, panelDf, 20).collect())
    }.foreach { res =>
      lat("batch", (System.nanoTime() - t0) / 1e6)
      val bq = byQuery(res)
      l.check("Ivf.searchBatch", bq.size == panel && bq.values.forall(ranked(_, 20)),
        s"${bq.size} of $panel queries answered, or not ranked")
      bq.foreach { case (q, hits) => answered += ((q, applied, hits.map(_._1))) }
    }
    () => ()
  }

  /** Exact top-20 over the index contents as of each answered query. */
  def recall(spark: SparkSession, l: Ledger): Double = {
    val panelDf = Tables.load(spark, ctx.data, "panel")
    val rs = answered.groupBy(_._2).toSeq.flatMap { case (v, qs) =>
      val ids = qs.map(_._1).distinct
      val truth = byQuery(Knn.topKDotBatch(contents(spark, v), panelDf.where(col("query_id").isin(ids.toList: _*)), 20).collect())
      qs.map { case (q, _, got) => recallOf(got, truth.getOrElse(q, Nil).map(_._1)) }
    }
    val r = if (rs.isEmpty) 0.0 else rs.sum / rs.size
    l.check("recall_at_20", r >= RecallFloor, f"recall@20 $r%.4f below the floor $RecallFloor")
    r
  }
}

// ----------------------------------------------------------- corpus_curation

/** LLM-corpus curation as one pass: exact + near-duplicate removal
  * with the quality gate, duplicate clusters, token cost of the kept
  * corpus, then token chunking and sequence packing. */
final class CorpusCuration(ctx: Ctx) extends Workload {
  private val spec = Gen.CorpusSpec(ctx.seed, Gen.Zipf(ctx.seed, 20000, 1.0),
    3000, 0.05, 0.10, 0.03, 60, 240)
  private val maxTokens = 128
  private val overlap = 16
  private val budget = 2048
  private val dir = s"${ctx.out}/corpus"
  private lazy val words: Array[Int] =
    Array.tabulate(spec.docs.toInt)(id => spec.doc(id)._1.split(" ").length)
  private var found = 0.0

  def setup(spark: SparkSession): Unit =
    Gen.writeCorpus(spark, spec, s"${ctx.data}/corpus.parquet", ctx.cpus)

  def checksums(spark: SparkSession): Map[String, String] =
    Map("corpus" -> Gen.checksum(Tables.load(spark, ctx.data, "corpus")))

  def sizes: Map[String, Double] = Map("docs" -> spec.docs.toDouble,
    "exact_copies" -> spec.exactCopies.toDouble, "near_copies" -> spec.nearCopies.toDouble,
    "tokens" -> words.map(_.toLong).sum.toDouble)

  /** A batch job: timed cold, as ref_pipeline. */
  def warmup(spark: SparkSession, l: Ledger): Unit = ()

  /** Whitespace tokens `chunkByTokens` emits for a document of n tokens. */
  private def chunkTokens(n: Int): Long = {
    val step = maxTokens - overlap
    val chunks = math.ceil(math.max(n - overlap, 1).toDouble / step).toInt
    (0 until chunks).map(i => math.min(maxTokens, n - i * step).toLong).sum
  }

  def pass(spark: SparkSession, t: Tracer, l: Ledger): () => Unit = {
    val checks = mutable.ArrayBuffer.empty[() => Unit]
    val corpus = t.span("scan") { op(l, "scan")(Tables.load(spark, ctx.data, "corpus")).get }
    t.span("CorpusPipeline.prepare", "docs" -> spec.docs.toDouble) {
      op(l, "CorpusPipeline.prepare") {
        CorpusPipeline.prepare(corpus).write.mode("overwrite").parquet(s"$dir/curated")
      }
    }.foreach { _ =>
      checks += (() => {
        val kept = spark.read.parquet(s"$dir/curated").select("doc_id").collect().map(_.getLong(0)).toSet
        val exactLeft = kept.count(spec.isExact)
        l.check("CorpusPipeline.prepare", exactLeft == 0, s"$exactLeft planted exact copies survived")
        val near = (0L until spec.docs).filter(spec.isNear)
        val resolved = near.count(c => !(kept(c) && kept(spec.sourceOf(c))))
        found = resolved.toDouble / near.size
      })
    }
    val before = spark.sparkContext.getPersistentRDDs.size
    t.span("Clusters.dupClusters") {
      op(l, "Clusters.dupClusters") {
        Clusters.dupClusters(corpus, 3, 12, 2, 0.5).write.mode("overwrite").parquet(s"$dir/clusters")
        t.attr("pinned_rdds_after", (spark.sparkContext.getPersistentRDDs.size - before).toDouble)
      }
    }.foreach { _ =>
      checks += (() => {
        val cl = spark.read.parquet(s"$dir/clusters").collect()
          .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
        val exact = (0L until spec.docs).filter(spec.isExact)
        val split = exact.count(c => cl.get(c).isEmpty || cl.get(c) != cl.get(spec.sourceOf(c)))
        l.check("Clusters.dupClusters", split == 0, s"$split exact copies not clustered with their original")
      })
    }
    val keptIds = spark.read.parquet(s"$dir/curated").select("doc_id")
    val kept = corpus.join(keptIds, "doc_id")
    t.span("TextAnalysis.tokenCost") {
      op(l, "TextAnalysis.tokenCost")(TextAnalysis.tokenCost(kept).collect()(0))
    }.foreach { r =>
      checks += (() => {
        val ids = keptIds.collect().map(_.getLong(0))
        val expected = ids.map(id => words(id.toInt).toLong).sum
        l.check("TextAnalysis.tokenCost", r.getAs[Long]("total_tokens") == expected,
          s"total_tokens ${r.getAs[Long]("total_tokens")}, generator wrote $expected")
      })
    }
    t.span("TextAnalysis.chunkPack") {
      op(l, "TextAnalysis.chunkPack") {
        TextAnalysis.packChunks(TextAnalysis.chunkByTokens(kept, maxTokens, overlap), budget, ctx.cpus)
          .collect()
      }
    }.foreach { packs =>
      checks += (() => {
        val ids = keptIds.collect().map(_.getLong(0))
        val expected = ids.map(id => chunkTokens(words(id.toInt))).sum
        val got = packs.map(_.getAs[Long]("pack_tokens")).sum
        l.check("TextAnalysis.chunkPack", got == expected, s"packs hold $got tokens, chunks hold $expected")
      })
    }
    () => checks.foreach(_())
  }

  /** Share of planted near-copy pairs of which at most one document was kept. */
  def recall(spark: SparkSession, l: Ledger): Double = found
}
