package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftbridge.SqlBridge.{leanCheckpoint, unpin}
import graft.functions.VectorFunctions._
import graft.operators.TextAnalysis.tokens

/** Keyword and hybrid retrieval over the documents corpus — the text
  * half of the search surface whose vector half is [[Knn]]/[[Ivf]]
  * (reference Program.cs:207-227 does vector-only KNN; a production
  * retrieval stack pairs it with lexical BM25 and fuses the rankings).
  *
  * Scale shape: the term postings are built by explode → filter to the
  * query's terms BEFORE any shuffle, so the exchange carries only rows
  * whose token is one of the handful of query terms — corpus-size
  * independent per term. Document frequencies and corpus stats are
  * kilobyte-scale aggregates that broadcast back; the final top-k is
  * `TakeOrderedAndProject` (bounded per-partition heap, no global sort).
  */
object Search {

  /** Okapi BM25 scoring of every document matching at least one query
    * term; top `k` by score.
    *
    * idf  = ln((N - df + 0.5) / (df + 0.5) + 1)        (Lucene form)
    * tfN  = tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))
    * score = Σ_terms idf * tfN, rounded 6 dp, doc_id tiebreak.
    *
    * `avgdl` is fixed to round(Σdl / N, 6) on BOTH engines (shared
    * definition in the oracle SQL) so the double division feeding every
    * score starts from identical bits (SURVEY.md §6).
    */
  def bm25(docs: DataFrame, terms: Seq[String], k: Int,
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && k > 0)
    val lens = docs
      .select(col("doc_id"), tokens(col("text")).as("__ts"))
      .select(col("doc_id"), col("__ts"), size(col("__ts")).as("dl"))
    // 1-row corpus stats; broadcast to every scored row.
    val stats = lens.agg(
      count(lit(1)).as("n_docs"),
      round(sum("dl").cast("double") / count(lit(1)), 6).as("avgdl"))
    // Postings restricted to query terms pre-shuffle: the groupBy
    // exchange sees O(matches) rows, never the corpus token stream.
    val tf = lens
      .select(col("doc_id"), col("dl"), explode(col("__ts")).as("term"))
      .where(col("term").isin(terms: _*))
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"))
    // df per term: at most |terms| rows — broadcast join.
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val tfNorm = col("tf") * lit(k1 + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    tf
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_terms_matched"),
        round(sum(idf * tfNorm), 6).as("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** Per-document keyword extraction: top `k` terms by tf-idf
    * (tf · ln(N/df)), ranked through the library's own
    * [[graft.plans.GroupedTopK]] custom physical operator — bounded
    * per-partition heaps BEFORE the exchange, so the shuffle carries at
    * most k rows per (partition, doc) instead of the full scored
    * posting list. The idf side is a (term, df) aggregate joined back
    * on term — vocabulary-sized, a plain shuffle join that AQE
    * broadcasts when it fits. Deterministic tiebreak on term. */
  def tfidfTopTerms(docs: DataFrame, k: Int): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf
      .join(dfreq, "term")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"), col("tf"),
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6).as("tfidf"))
    graft.plans.GroupedTopK.topK(scored, Seq(col("doc_id")),
      Seq(col("tfidf").desc, col("term").asc), k)
      .orderBy(col("doc_id"), desc("tfidf"), col("term"))
  }

  /** BM25 candidates with their rank (1-based, score-desc, doc_id
    * tiebreak), depth-bounded. The Window runs AFTER the top-`depth`
    * cut, so it ranks a constant-size frame (≤ depth rows) at any
    * corpus scale — the constant partitionBy(lit) only suppresses the
    * "No Partition Defined for Window" log warning that otherwise
    * reads as an unpartitioned-data red flag in bench logs (same note
    * as Scan.globalIndex's offsets frame). */
  private def ranked(scoredTopDepth: DataFrame, idCol: String, scoreCol: String): DataFrame =
    scoredTopDepth.withColumn(
      "rank",
      row_number().over(Window.partitionBy(lit(0)).orderBy(desc(scoreCol), asc(idCol))))

  /** Hybrid retrieval: reciprocal-rank fusion of the BM25 ranking over
    * `docs` and the exact-cosine ranking of `vectors` against the query
    * vector, joined on doc_id = vec_id.
    *
    * rrf(d) = Σ_rankings 1 / (rrfK + rank_d), absent rankings
    * contribute 0 — the standard Cormack/Clarke formulation. Both
    * rankings are depth-bounded top lists (TakeOrderedAndProject), so
    * fusion always operates on ≤ 2·depth rows regardless of corpus
    * size; ranks beyond `depth` are genuinely absent, matching how a
    * serving system fuses two bounded candidate lists.
    */
  def hybridRrf(docs: DataFrame, vectors: DataFrame, query: DataFrame,
                terms: Seq[String], k: Int, depth: Int = 100,
                rrfK: Int = 60): DataFrame = {
    require(depth >= k && k > 0)
    val lex = ranked(bm25(docs, terms, depth), "doc_id", "score")
      .select(col("doc_id").as("id"), col("rank").as("lex_rank"))
    val sem = ranked(
      Knn.topKCosine(vectors, query, depth).select(col("vec_id"), col("score")),
      "vec_id", "score")
      .select(col("vec_id").as("id"), col("rank").as("sem_rank"))
    val contrib = (r: Column) =>
      coalesce(lit(1.0) / (lit(rrfK) + r), lit(0.0))
    lex
      .join(sem, Seq("id"), "full_outer")
      .select(
        col("id"),
        col("lex_rank"),
        col("sem_rank"),
        round(contrib(col("lex_rank")) + contrib(col("sem_rank")), 6).as("rrf_score"))
      .orderBy(desc("rrf_score"), asc("id"))
      .limit(k)
  }

  /** Collocation extraction (q72): token pairs that co-occur in
    * documents far more than their independent frequencies predict,
    * ranked by LIFT = P(ab)/(P(a)P(b)) = n_ab·N/(n_a·n_b) — the
    * monotone core of PMI (PMI = log lift; ranking by lift avoids
    * hanging result hashes on cross-engine `ln` bits, and the oracle
    * compares the same single rounded division). The corpus-analysis
    * staple for phrase mining and tokenizer-merge candidates.
    *
    * Plan: distinct (doc, token) exploded once; document frequencies
    * are a vocabulary-sized aggregate; the pair generation is an
    * equi-self-join on doc_id with `tok_a < tok_b` — per-doc work is
    * quadratic in DISTINCT tokens per doc, which is bounded by
    * document length, not corpus size; `minCount` prunes the pair
    * tail before the df joins. At 100 TB the production variant caps
    * the per-doc distinct set (or windows the co-occurrence) — both
    * keep this exact plan shape. */
  def collocations(docs: DataFrame, minCount: Int, k: Int): DataFrame = {
    val dt = docs.select(col("doc_id"),
      explode(array_distinct(tokens(col("text")))).as("tok"))
    val dfreq = dt.groupBy("tok").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val pairs = dt.as("a").join(dt.as("b"), "doc_id")
      .where(col("a.tok") < col("b.tok"))
      .groupBy(col("a.tok").as("tok_a"), col("b.tok").as("tok_b"))
      .agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= minCount)
    pairs
      .join(dfreq.select(col("tok").as("tok_a"), col("df").as("df_a")), "tok_a")
      .join(dfreq.select(col("tok").as("tok_b"), col("df").as("df_b")), "tok_b")
      .crossJoin(broadcast(n))
      .select(col("tok_a"), col("tok_b"), col("n_ab"), col("df_a"), col("df_b"),
        round((col("n_ab").cast("double") * col("n_docs").cast("double")) /
          (col("df_a").cast("double") * col("df_b").cast("double")), 6).as("lift"))
      .orderBy(desc("lift"), col("tok_a"), col("tok_b"))
      .limit(k)
  }

  /** JVM-side twin of [[Dedup.hash60]] — the driver needs the SAME
    * 60-bit hash to compute which index buckets a query's terms live
    * in without touching the cluster (15 hex chars of md5 = 60 bits,
    * always non-negative, bit-identical to Spark's
    * `conv(substring(md5(s), 1, 15), 16, 10)`). */
  private[graft] def hash60Jvm(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = d.take(8).map(b => f"$b%02x").mkString.take(15)
    java.lang.Long.parseLong(hex, 16)
  }

  private def bucketOf(term: String, nBuckets: Int): Int =
    (hash60Jvm(term) % nBuckets).toInt

  /** Persist the corpus's inverted index: the sparse-retrieval twin of
    * [[Ivf.save]]'s dense index lifecycle. Postings (term, doc_id, tf,
    * dl) land partitioned by a term-hash BUCKET — the lexical analog
    * of partition-by-cell: a query's terms map to a handful of buckets
    * and the serve path scans ONLY those partitions (partition pruning
    * on disk), never the corpus-wide posting store. Corpus stats
    * (n_docs, avgdl under the shared 6-dp definition) persist beside
    * them, so serving needs no pass over the documents table at all.
    * Per-term document frequency is NOT materialized: df for the
    * queried terms is exact from the probed buckets alone (every
    * posting of a term lives in its one bucket), so the index carries
    * no vocabulary-sized side table to keep consistent on append. */
  def saveTextIndex(docs: DataFrame, path: String, nBuckets: Int = 64): Unit = {
    require(nBuckets > 0)
    val (n, sum) = writePostings(docs, path, nBuckets, overwrite = true)
    writeTextStats(docs.sparkSession, path, n, sum)
  }

  /** The ONE postings definition, shared by full build and incremental
    * append: (doc_id, dl, term, tf) partitioned by term-hash bucket.
    * Returns the corpus totals (n_docs, Σdl) of `docs`, observed on the
    * write job's pre-explode rows — the second full tokenize pass the
    * stats sidecar used to pay (`corpusTotals`) rides the build scan
    * for free (r20, guide §1.2-1: one pass, not two). The observation
    * sits ABOVE the explode, so zero-token docs still count. */
  private def writePostings(docs: DataFrame, path: String, nBuckets: Int,
                            overwrite: Boolean): (Long, Long) = {
    val obs = new org.apache.spark.sql.Observation()
    docs
      .select(col("doc_id"), tokens(col("text")).as("__ts"))
      .observe(obs, count(lit(1)).as("n"),
        coalesce(sum(size(col("__ts"))), lit(0L)).as("s"))
      .select(col("doc_id"), size(col("__ts")).as("dl"), explode(col("__ts")).as("term"))
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"))
      .withColumn("bucket", pmod(graft.operators.Dedup.hash60(col("term")), lit(nBuckets.toLong)))
      .write.mode(if (overwrite) "overwrite" else "append").partitionBy("bucket")
      .parquet(s"$path/postings")
    (obs.get("n").asInstanceOf[Long], obs.get("s").asInstanceOf[Long])
  }

  /** Stats sidecar: avgdl recomputed from the EXACT totals every time
    * — an appended index reports bit-identical avgdl to a fresh build
    * (never an incrementally drifted float). sum_dl rides along so the
    * next append has the exact totals to fold into. */
  private def writeTextStats(spark: org.apache.spark.sql.SparkSession,
                             path: String, nDocs: Long, sumDl: Long): Unit = {
    import spark.implicits._
    // HALF_UP on the double quotient = Spark's round(col, 6), the
    // definition the original one-shot build used and q131's oracle
    // mirrors — NOT math.rint (half-even), which could flip a
    // boundary avgdl between an appended and a fresh index.
    val avgdl = java.math.BigDecimal
      .valueOf(sumDl.toDouble / math.max(nDocs, 1L))
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    Seq((nDocs, avgdl, sumDl))
      .toDF("n_docs", "avgdl", "sum_dl")
      .write.mode("overwrite").parquet(s"$path/stats")
  }

  /** Incrementally add `delta` documents to a persisted text index:
    * delta-sized postings APPEND into the same bucket layout (serving's
    * bucket pruning is untouched — new files land inside the bucket
    * dirs), stats refold from exact totals. Contract: delta doc_ids
    * are NEW (the append-only table-commit shape [[graft.operators
    * .IndexSync.syncText]] drives this under); re-adding an indexed
    * doc would double its postings — exactly why non-append table ops
    * force a rebuild there. The stats rewrite is not atomic with the
    * postings append; the sync layer's inflight marker turns a crash
    * between the two into a forced rebuild, never a served
    * half-state. */
  def appendTextIndex(delta: DataFrame, path: String, nBuckets: Int = 64): Unit = {
    require(nBuckets > 0)
    val spark = delta.sparkSession
    val prev = spark.read.parquet(s"$path/stats")
      .select(col("n_docs"), col("sum_dl")).head()
    val (dn, dsum) = writePostings(delta, path, nBuckets, overwrite = false)
    writeTextStats(spark, path, prev.getLong(0) + dn, prev.getLong(1) + dsum)
  }

  /** BM25 served from the persisted index — bit-equal to the inline
    * [[bm25]] by construction (same idf/tfN/avgdl formulas over the
    * same exact tf/dl/df integers; SearchSpec pins the differential).
    * The plan reads the 1-row stats file and the query terms' bucket
    * partitions only: `bucket IN (...)` prunes at the directory level
    * and the residual `term IN (...)` prunes row-groups via
    * dictionary/stats — serving cost scales with the probed buckets'
    * posting mass, not the corpus. */
  /** Exact phrase search: documents containing `phrase` as a
    * CONSECUTIVE token run, by position algebra over the postings —
    * token i of the phrase matching at stream position p votes for
    * start = p − i, and a start collecting all m votes is a full
    * occurrence (each position holds exactly one token, so
    * count == m ⟺ every offset matched; duplicate phrase tokens need
    * no special-casing — a fixed (doc, start) receives at most one
    * vote per offset i). Cost: postings are pruned to the phrase's
    * terms BEFORE any exchange, then one shuffle on (doc_id, start)
    * plus the per-doc rollup — never a self-join per adjacent token
    * pair (the m−1-join formulation shuffles m−1 times and carries
    * the heaviest term's postings through every hop). */
  def phraseSearch(docs: DataFrame, phrase: String, k: Int): DataFrame = {
    val spark = docs.sparkSession
    phraseHits(
      docs.select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "term"))),
      spark, phrase, k)
  }

  private def phraseHits(postings: DataFrame,
                         spark: org.apache.spark.sql.SparkSession,
                         phrase: String, k: Int): DataFrame = {
    val q = phrase.trim.split("\\s+").filter(_.nonEmpty).toSeq
    require(q.nonEmpty && k > 0)
    import spark.implicits._
    val qDf = q.zipWithIndex.toDF("term", "qi")
    postings
      .where(col("term").isin(q.distinct: _*))
      .join(broadcast(qDf), "term")
      .select(col("doc_id"), (col("pos") - col("qi")).cast("long").as("start"))
      .where(col("start") >= 0)
      .groupBy("doc_id", "start").agg(count(lit(1)).as("__c"))
      .where(col("__c") === q.length)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"), min(col("start")).as("first_pos"))
      .orderBy(desc("n_hits"), asc("doc_id"))
      .limit(k)
  }

  /** Proximity search: documents where `termA` and `termB` co-occur
    * within `window` tokens (any order) — the relaxation between
    * [[phraseSearch]] (exact adjacency) and [[bm25]] (bag of words),
    * and the primitive behind "near" operators in every query language.
    * Emits pair count and closest distance per doc. Scale shape:
    * postings prune to the TWO terms before any exchange; the per-doc
    * join's fan-out is bounded by the terms' per-doc counts (the
    * worst case is the collocation contract, not a corpus join). */
  def proximitySearch(docs: DataFrame, termA: String, termB: String,
                      window: Int, k: Int): DataFrame = {
    require(termA != termB, "proximity of a term with itself is repetition — see q35")
    require(window > 0 && k > 0)
    val postings = docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "term")))
      .where(col("term").isin(termA, termB))
    val pa = postings.where(col("term") === termA)
      .select(col("doc_id"), col("pos").as("pa"))
    val pb = postings.where(col("term") === termB)
      .select(col("doc_id"), col("pos").as("pb"))
    pa.join(pb, "doc_id")
      .where(abs(col("pa") - col("pb")) <= window)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pairs"),
        min(abs(col("pa") - col("pb"))).cast("long").as("min_dist"))
      .orderBy(desc("n_pairs"), asc("doc_id"))
      .limit(k)
  }

  /** KWIC snippet extraction (q179): for every document containing
    * `term`, the keyword-in-context window — `context` tokens either
    * side of the FIRST occurrence, joined back to a display string —
    * plus the occurrence count; ranked (n_matches desc, doc_id). The
    * result-page half of the serving stack: q34/q131 rank documents,
    * this renders WHY each hit matched (every search UI's snippet
    * line).
    *
    * Scale shape: ZERO exchanges before the top-k — first-occurrence
    * lookup (`array_position`), match count (`filter` + `size`) and
    * window slice (`slice` + `concat_ws`) are all codegen'd array
    * expressions evaluated per row inside the scan stage, so the only
    * movement is the TakeOrdered top-k of rows that actually match.
    * Compare the posting-explode shape ([[proximitySearch]]): no
    * positions ever materialize as rows here — the window is cut
    * inside the array. */
  def snippets(docs: DataFrame, term: String, context: Int, k: Int): DataFrame = {
    require(term.nonEmpty && context >= 1 && k >= 1)
    val ts = tokens(col("text"))
    val pos = array_position(ts, term) // 1-based; 0 = absent
    val start = greatest(lit(1), pos - context)
    val len = least(pos + context, size(ts)) - start + 1
    docs
      .select(col("doc_id"), pos.as("match_pos"),
        size(filter(ts, t => t === term)).cast("long").as("n_matches"),
        concat_ws(" ", slice(ts, start.cast("int"), len.cast("int"))).as("snippet"))
      .where(col("match_pos") > 0)
      .orderBy(desc("n_matches"), asc("doc_id"))
      .limit(k)
  }

  /** More-like-this (q190): top-k documents most similar to a QUERY
    * DOCUMENT by tf-idf cosine — the related-content face of the
    * retrieval family (q34 ranks against a term list; this ranks
    * against a whole document). Never all-pairs: the corpus joins the
    * BROADCAST query vector on term, so only documents sharing ≥1 term
    * with the query are ever scored, and the work is bounded by the
    * query's terms' posting mass — the inverted-index discipline at
    * query-by-document granularity.
    *
    * Exactness (the q38 convention, hardened for products): idf
    * quantizes once — floor(ln((N−df+0.5)/(df+0.5)+1)·10⁶), a long —
    * and every weight product (tf_q·tf_d·idf²) accumulates in
    * DECIMAL(38,0), exact in both engines at any posting mass (the
    * long formulation overflows ~2⁶³ on pathological tf; decimal
    * never). One double sqrt per side at emission, cosine rounded to
    * 6 dp BEFORE the ranking order (rounded-before-ranking, ties to
    * doc_id). */
  def moreLikeThis(docs: DataFrame, queryDocId: Long, k: Int): DataFrame = {
    require(k >= 1)
    val terms = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val n = docs.select(countDistinct("doc_id").as("n"))
    val idf = terms.groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(n))
      .select(col("term"),
        floor(log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) * 1e6)
          .cast("long").as("idf_micro"))
    val w = terms.join(idf, "term")
      .select(col("doc_id"), col("term"), col("tf"), col("idf_micro"))
    val wsq = (col("tf") * col("idf_micro")).cast("decimal(38,0)") *
      (col("tf") * col("idf_micro")).cast("decimal(38,0)")
    val norms = w.groupBy("doc_id").agg(sum(wsq).as("norm2"))
    val qvec = w.where(col("doc_id") === queryDocId)
      .select(col("term"), col("tf").as("tf_q"))
    val qnorm = norms.where(col("doc_id") === queryDocId)
      .select(col("norm2").as("qnorm2"))
    val dots = w.join(broadcast(qvec), "term")
      .groupBy("doc_id")
      .agg(sum((col("tf") * col("tf_q")).cast("decimal(38,0)") *
        (col("idf_micro") * col("idf_micro")).cast("decimal(38,0)")).as("dot"),
        count(lit(1)).as("n_shared_terms"))
    dots.where(col("doc_id") =!= queryDocId)
      .join(norms, "doc_id")
      .crossJoin(broadcast(qnorm))
      .select(col("doc_id"), col("n_shared_terms"),
        round(col("dot").cast("double") /
          (sqrt(col("norm2").cast("double")) * sqrt(col("qnorm2").cast("double"))),
          6).as("cosine_sim"))
      .orderBy(desc("cosine_sim"), asc("doc_id"))
      .limit(k)
  }

  /** Source-separability confusion matrix (q191; the Rocchio 1971
    * nearest-centroid classifier turned into a CORPUS dial): build one
    * tf-idf profile per source (the sparse per-(source, term) weight
    * table — never a dense vocab vector), assign every document to its
    * nearest profile by cosine, and report the source×predicted
    * confusion counts. High diagonal = sources are real distributional
    * strata (per-source curation knobs will bite); an off-diagonal
    * smear = the source labels don't carve the corpus and
    * domain-mixing weights (q37) built on them are noise. The
    * self-inclusion bias (a doc contributes to its own source's
    * profile) is the standard corpus-scale Rocchio simplification —
    * at any real per-source mass one document moves nothing.
    *
    * Exactness: q190's discipline — floor-quantized idf, DECIMAL(38)
    * weight products, cosine rounded to 6 dp BEFORE the argmax, ties
    * to source asc. Scale shape: profiles are one (source, term)
    * partial-agg exchange; scoring joins doc terms to profiles on
    * term (docs × |sources| score rows, sources a handful); the
    * argmax is a |sources|-bounded GroupedTopK-class window over each
    * doc's score list. */
  def sourceConfusion(docs: DataFrame): DataFrame = {
    // Materialized once: idf, the per-source profiles, the doc norms
    // and the score join all consume this grain, and their differing
    // projections defeat exchange reuse — unmaterialized, the plan
    // re-ran the tokenize+explode+aggregate subtree per consumer (24
    // parquet scans in the r19 before-plan; 4 after)
    val terms = leanCheckpoint(docs
      .select(col("doc_id"), col("source"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "source", "term").agg(count(lit(1)).as("tf")))
    val n = docs.select(countDistinct("doc_id").as("n"))
    val idf = terms.groupBy("term").agg(countDistinct("doc_id").as("df"))
      .crossJoin(broadcast(n))
      .select(col("term"),
        floor(log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) * 1e6)
          .cast("long").as("idf_micro"))
    // The weighted grain is ALSO a 3-consumer fan-out (profiles, doc
    // norms, score join): exchange reuse dedups the idf aggregate's
    // exchange across them, but each consumer still re-executed the
    // terms-side idf JOIN (a join's output is not an exchange, so
    // nothing caches it). Folding idf in here makes that join run once;
    // the terms blocks — now consumed by nothing downstream — are
    // unpinned immediately, so peak pinned storage stays one
    // corpus-term-grain frame, not two (r20).
    // Matched A/Bs: sf0.1 2.32→2.84 s (the barrier LOSES at toy scale)
    // but sf1 16.85→8.20 s — the re-executed corpus-grain join is the
    // scale cost, the barrier a constant; shipped for the 10×-data 2×.
    val w = leanCheckpoint(terms.join(idf, "term"))
    unpin(terms)
    val profiles = w.groupBy(col("source").as("p_source"), col("term"))
      .agg(sum("tf").as("tf_s"), first("idf_micro").as("idf_micro"))
    val pnorm = profiles.groupBy("p_source")
      .agg(sum((col("tf_s") * col("idf_micro")).cast("decimal(38,0)") *
        (col("tf_s") * col("idf_micro")).cast("decimal(38,0)")).as("pnorm2"))
    val dnorm = w.groupBy("doc_id")
      .agg(sum((col("tf") * col("idf_micro")).cast("decimal(38,0)") *
        (col("tf") * col("idf_micro")).cast("decimal(38,0)")).as("dnorm2"))
    val scores = w
      .join(profiles.select("p_source", "term", "tf_s"), "term")
      .groupBy(col("doc_id"), col("source"), col("p_source"))
      .agg(sum((col("tf") * col("tf_s")).cast("decimal(38,0)") *
        (col("idf_micro") * col("idf_micro")).cast("decimal(38,0)")).as("dot"))
      .join(dnorm, "doc_id")
      .join(pnorm, "p_source")
      .select(col("doc_id"), col("source"), col("p_source"),
        round(col("dot").cast("double") /
          (sqrt(col("dnorm2").cast("double")) * sqrt(col("pnorm2").cast("double"))),
          6).as("cos"))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(desc("cos"), asc("p_source"))
    scores
      .withColumn("rn", row_number().over(byDoc))
      .where(col("rn") === 1)
      .groupBy(col("source"), col("p_source").as("predicted"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("source", "predicted")
  }

  /** Fuzzy term lookup (q192; the SymSpell deletion-neighborhood trick
    * — Garbe's public symmetric-delete algorithm): spell-correct a
    * query against the corpus dictionary at edit distance ≤ 1 WITHOUT
    * an all-terms Levenshtein scan. Key fact: dist(a,b) ≤ 1 ⟺ their
    * delete-1 neighborhoods intersect (substitution → delete the
    * differing char from both; insert/delete → one side's deletion hits
    * the other verbatim), so candidates come from ONE equi-join of the
    * dictionary's exploded deletion variants against the query's ≤
    * |q|+1 variant literals, and the exact `levenshtein` confirm runs
    * only on that candidate set. Ranked (df desc, term) — "did you
    * mean" order.
    *
    * Scale shape: variants are a codegen'd transform+explode over the
    * vocabulary-bounded dictionary (|term|+1 rows per term); the query
    * side is a literal IN-list. At serving volume the variant table
    * persists once (the [[saveTermDict]] lifecycle) — here the
    * operator states the inline computation, which IS the oracle. */
  def fuzzyTerms(docs: DataFrame, query: String, k: Int): DataFrame = {
    require(query.nonEmpty && k >= 1)
    val qVariants = query +: (0 until query.length)
      .map(i => query.substring(0, i) + query.substring(i + 1))
    // lossless length gate BEFORE the explode: delete-1 neighborhoods
    // can only intersect when |len(term) − len(query)| ≤ 1 (variant
    // lengths are len and len−1 on each side), so the per-term
    // |term|+1 variant fan-out runs over a length-sliver of the
    // vocabulary instead of all of it
    val dict = termDict(docs)
      .where(abs(length(col("term")) - lit(query.length)) <= 1)
    val variants = dict.select(col("term"), col("df"),
      explode(array_union(array(col("term")),
        expr("""transform(sequence(1, length(term)),
                 i -> concat(substring(term, 1, i - 1),
                             substring(term, i + 1, length(term))))"""))).as("v"))
    variants
      .where(col("v").isin(qVariants.distinct: _*))
      .select("term", "df").distinct()
      .withColumn("dist", levenshtein(col("term"), lit(query)).cast("long"))
      .where(col("dist") <= 1)
      .orderBy(desc("df"), asc("term"))
      .limit(k)
  }

  /** Trigram-similarity term lookup (q210) — the pg_trgm face of fuzzy
    * search, beside q192's edit-distance face: rank dictionary terms by
    * Jaccard similarity of padded character trigram SETS against the
    * query. pg_trgm's public convention exactly: lowercase, pad two
    * spaces in front and one behind, distinct 3-grams, |∩| / |∪|.
    * Where SymSpell answers "within 1 edit", trigram similarity grades
    * ARBITRARY distance — "hashing" matches "hash" at 0.36 — which is
    * why Postgres serves `%` searches this way.
    *
    * Scale shape: candidates come from a posting join — explode each
    * term's trigrams, hash-probe the query's ≤ |q| trigram literals —
    * so only terms SHARING a trigram are ever scored (never an
    * all-terms scan), and the per-term score is one integer overlap
    * count against two precomputed set sizes. Vocabulary-bounded like
    * q185/q192; the dictionary posting table persists via the
    * [[saveTermDict]] lifecycle at serving volume. */
  def trigramLookup(docs: DataFrame, query: String, minSim: Double,
                    k: Int): DataFrame = {
    require(query.nonEmpty && k >= 1)
    val qTg = trigramsOf(query)
    val dict = termDict(docs)
      .withColumn("tg", trigramArray(col("term")))
      .withColumn("n_tg", size(col("tg")))
    dict
      .select(col("term"), col("df"), col("n_tg"), explode(col("tg")).as("g"))
      .where(col("g").isin(qTg: _*))
      .groupBy("term", "df", "n_tg")
      .agg(count(lit(1)).as("shared"))
      .withColumn("sim", round(col("shared").cast("double") /
        (col("n_tg") + lit(qTg.size.toLong) - col("shared")).cast("double"), 6))
      .where(col("sim") >= minSim)
      .select(col("term"), col("df"), col("sim"))
      .orderBy(desc("sim"), desc("df"), asc("term"))
      .limit(k)
  }

  /** pg_trgm padded distinct trigrams, JVM side (the query literal). */
  private[graft] def trigramsOf(s: String): Seq[String] = {
    val p = "  " + s.toLowerCase + " "
    (0 to p.length - 3).map(i => p.substring(i, i + 3)).distinct
  }

  /** The same trigram set as a codegen'd column expression. */
  private def trigramArray(term: Column): Column = {
    val padded = concat(lit("  "), lower(term), lit(" "))
    array_distinct(transform(
      sequence(lit(1), length(padded) - 2),
      i => padded.substr(i, lit(3))))
  }

  /** Corpus term dictionary: (term, df, tf) — document frequency and
    * total occurrences, the autocomplete/spell-serving sidecar. One
    * (doc_id, term) distinct + one term rollup, both map-side-combined;
    * output is vocabulary-bounded. */
  def termDict(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .groupBy("term")
      .agg(count(lit(1)).as("df"), sum("tf").as("tf"))

  /** Top-k dictionary terms extending `prefix`, ranked (df desc, term)
    * — the inline face of the autocomplete serve (and its oracle
    * statement). `startsWith`, never a regex: a prefix is a literal. */
  def prefixTerms(docs: DataFrame, prefix: String, k: Int): DataFrame = {
    require(prefix.nonEmpty && k >= 1)
    termDict(docs)
      .where(col("term").startsWith(prefix))
      .orderBy(desc("df"), asc("term"))
      .limit(k)
  }

  /** Persist the term dictionary for PREFIX serving (q185): rows land
    * partitioned by the term's FIRST character — the hash-bucket trick
    * ([[saveTextIndex]]) cannot serve a prefix (hashing scatters
    * lexicographic neighbors), so the autocomplete store uses the
    * lexicographic analog: directory pruning on the leading character,
    * then parquet min/max string stats prune row groups for the rest
    * of the prefix (`StringStartsWith` pushes down to the scan). A
    * query touches one partition directory of a vocabulary-bounded
    * table — KB-scale serving at any corpus size. */
  def saveTermDict(docs: DataFrame, path: String): Unit =
    termDict(docs)
      .withColumn("p1", substring(col("term"), 1, 1))
      .write.mode("overwrite").partitionBy("p1")
      .parquet(path)

  /** Autocomplete off the persisted dictionary — bit-equal to
    * [[prefixTerms]] by construction (SearchSpec pins it); the plan
    * must show PartitionFilters on p1 and the pushed prefix filter. */
  def prefixSearchIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                        prefix: String, k: Int): DataFrame = {
    require(prefix.nonEmpty && k >= 1)
    spark.read.parquet(path)
      .where(col("p1") === prefix.substring(0, 1) &&
        col("term").startsWith(prefix))
      .select("term", "df", "tf")
      .orderBy(desc("df"), asc("term"))
      .limit(k)
  }

  /** Persist the POSITIONAL inverted index: (term, doc_id, pos)
    * postings partitioned by term-hash bucket — [[saveTextIndex]]'s
    * layout with positions kept, the classic phrase/proximity-serving
    * store. Positions make the postings ~dl/distinct-terms× larger;
    * the two indexes stay separate files so BM25 serving never pays
    * for positions it doesn't read. */
  def savePositionalIndex(docs: DataFrame, path: String, nBuckets: Int = 64): Unit = {
    require(nBuckets > 0)
    docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "term")))
      .withColumn("bucket", pmod(graft.operators.Dedup.hash60(col("term")), lit(nBuckets.toLong)))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$path/postings")
  }

  /** Phrase search served from the persisted positional index —
    * bit-equal to the inline [[phraseSearch]] by construction (same
    * vote algebra over the same postings; SearchSpec pins the
    * differential). `bucket IN (...)` prunes partition directories,
    * `term IN (...)` prunes row groups: serve cost scales with the
    * phrase terms' posting mass, not the corpus. */
  def phraseSearchIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                        phrase: String, k: Int, nBuckets: Int = 64): DataFrame = {
    val q = phrase.trim.split("\\s+").filter(_.nonEmpty).toSeq
    require(q.nonEmpty)
    val buckets = q.map(t => bucketOf(t, nBuckets)).distinct
    val postings = spark.read.parquet(s"$path/postings")
      .where(col("bucket").isin(buckets: _*))
    phraseHits(postings, spark, phrase, k)
  }

  def searchTextIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                      terms: Seq[String], k: Int, nBuckets: Int = 64,
                      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && k > 0)
    val buckets = terms.map(t => bucketOf(t, nBuckets)).distinct
    val stats = spark.read.parquet(s"$path/stats")
    val tf = spark.read.parquet(s"$path/postings")
      .where(col("bucket").isin(buckets: _*) && col("term").isin(terms: _*))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val tfNorm = col("tf") * lit(k1 + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    tf
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_terms_matched"),
        round(sum(idf * tfNorm), 6).as("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }
}
