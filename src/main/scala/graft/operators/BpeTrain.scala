package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SqlBridge

import graft.functions.Bpe

/** Distributed BPE merge training — the corpus-scale twin of
  * [[graft.functions.Bpe.learn]] (which trains on a bounded driver-side
  * sample, the fixed-cost default for token COUNTING). When the
  * tokenizer itself is the product — training a vocab ON the corpus the
  * model will see, the way GPT-2/cl100k vocabs were built on their
  * crawls (reference Program.cs:40,80 consumes such a vocab) — the pair
  * statistics must come from ALL the text, and at 100 TB no driver
  * holds the working set. The classic trick (every single-node BPE
  * trainer uses it too) makes this tractable: merges never cross
  * pre-token boundaries, so the corpus collapses to a DISTINCT-WORD
  * frequency table first, and the merge loop runs over that — bounded
  * by vocabulary size, not corpus size.
  *
  * Scale shape:
  *  - ONE corpus-sized pass: pre-tokenize (the shared cl100k regex) +
  *    hash-exchange on the byte-piece word → (word, freq). This is the
  *    only stage that sees every byte; it is a straight map + partial
  *    agg, the q13 exact-dedup shape.
  *  - BATCHED rounds over the collapsed table (r15): adjacent-pair
  *    counts via a `transform` index lambda + explode + groupBy (the
  *    shuffle carries one row per distinct PAIR, ≪ distinct words), a
  *    bounded top-K panel collect, then [[selectBatch]] takes every
  *    merge the panel PROVES sequential-equivalent and one distributed
  *    map applies them all — so the Spark-job count scales with
  *    ROUNDS, not merges (measured ~2× fewer jobs on the gate corpus,
  *    deeper in a real corpus's long vocabulary tail).
  *    `localCheckpoint` every 8th round keeps the lineage flat (the
  *    q88 discipline) without paying a materialization job per round;
  *    the table only shrinks (fully-merged words drop out).
  *  - Words are distinct byte strings, and a word's symbol split is a
  *    deterministic function of its bytes + the merge table — so two
  *    distinct rows can never converge and no re-group is needed.
  *
  * Determinism: tie-break is (max count, lexicographically smallest
  * (left, right)) — identical to [[Bpe.learn]]'s `minBy((-c, a, b))`.
  * Spark's ORDER BY on strings compares UTF-8 bytes = code-point order;
  * Java String compares UTF-16 units — equal for these tokens (latin-1
  * chars only, no surrogates), so BpeTrainSpec pins distributed ==
  * driver BIT FOR BIT on the same corpus.
  */
object BpeTrain {

  /** One learned merge: `rank` is merge order (lower merges first),
    * `left`/`right` the merged symbol pair (latin-1 byte strings),
    * `n_pairs` the weighted adjacent-pair count that won the round. */
  final case class Merge(rank: Int, left: String, right: String, n_pairs: Long)

  private[graft] final case class WordRow(syms: Seq[String], f: Long)

  /** Left-to-right non-overlapping application of one merge — the same
    * rule as [[Bpe.learn]]'s inner loop (and tiktoken's). */
  private[graft] def applyMerge(w: Seq[String], a: String, b: String): Seq[String] = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    val n = w.length
    var i = 0
    while (i < n) {
      if (i < n - 1 && w(i) == a && w(i + 1) == b) { out += (a + b); i += 2 }
      else { out += w(i); i += 1 }
    }
    out.toList
  }

  /** The corpus-sized pass: distinct byte-piece words with frequencies.
    * Single-symbol words carry no mergeable pair and are dropped at the
    * source (before the exchange), exactly like the driver learner. */
  private[graft] def wordFreq(docs: DataFrame): Dataset[WordRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("text")).where(col("text").isNotNull).as[String]
      .flatMap(t => Bpe.preTokenize(t).filter(_.length > 1).map(_.toSeq))
      .groupBy(col("value").as("syms"))
      .agg(count(lit(1)).as("f"))
      .as[WordRow]
  }

  /** Pair-stats panel size per round. Bounded driver collect (the
    * centroids/codebooks class): K short-string rows, ≤ a few hundred
    * KB. Larger K admits deeper provably-safe batches (the `cutoff`
    * bound below tightens); the batch math is exact at any K. */
  private val PanelK = 2048

  /** The maximal PROVABLY-SEQUENTIAL batch from one round's sorted
    * pair panel — the r15 answer to "a real tokenizer is 32k merges =
    * 32k sequential Spark jobs". Batching merges between recounts is
    * exact (bit-identical to the one-merge-per-round loop, hence to
    * the driver learner) when every selected pair's round-start count
    * provably equals what a sequential recount would have shown AND
    * nothing can out-rank it mid-batch. Selection walks the panel in
    * (count desc, a, b) order and STOPS at the first violation (a
    * skipped-but-kept pair would reorder ranks), admitting pair j
    * after selected pairs i < j iff:
    *
    *  1. symbol-disjoint: {a_j, b_j} shares no symbol with any earlier
    *     {a_i, b_i} — earlier applications then cannot change pair j's
    *     count (a merge only disturbs adjacencies at its own symbols);
    *  2. no new-symbol contact: {a_j, b_j} contains no earlier
    *     concat(a_i·b_i) — pairs touching a just-created symbol gain
    *     occurrences mid-batch;
    *  3. strict dominance over anything a prior merge can create:
    *     n_j > createdBound_i for all i, where every pair born of
    *     merge i has the shape (w, a_i·b_i) or (a_i·b_i, z) and its
    *     count is bounded by the round-start count of (last(w), a_i)
    *     resp. (b_i, z) — so createdBound_i = max count over panel
    *     pairs with right = a_i or left = b_i, floored at the panel
    *     cutoff (an off-panel pair counts < cutoff by construction);
    *  4. no symbol collision: concat(a_i·b_i) must be a FRESH string —
    *     if it equals a symbol minted by an earlier round (different
    *     decomposition, e.g. "a"+"bc" vs "ab"+"c"), existing pairs
    *     holding that symbol gain occurrences and the batch stops
    *     after i.
    *
    * Early rounds (few dominant pairs sharing common bytes) batch
    * shallow; the long vocabulary tail — where the 32k-merge cost
    * lives — batches deep because counts spread out and rule 3 binds
    * rarely. */
  private[graft] def selectBatch(panel: Array[(String, String, Long)],
                                 cutoff: Long, priorConcats: Set[String],
                                 maxTake: Int): Seq[(String, String, Long)] = {
    val selected = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    val usedSyms = scala.collection.mutable.Set.empty[String]
    val newSyms = scala.collection.mutable.Set.empty[String]
    var maxCreatedBound = Long.MinValue
    var collided = false
    var j = 0
    var stop = false
    while (j < panel.length && selected.length < maxTake && !stop) {
      val (a, b, n) = panel(j)
      val admissible =
        selected.isEmpty ||
          (!collided &&
            !usedSyms.contains(a) && !usedSyms.contains(b) &&
            !newSyms.contains(a) && !newSyms.contains(b) &&
            n > maxCreatedBound)
      if (!admissible) stop = true
      else {
        selected += ((a, b, n))
        usedSyms += a; usedSyms += b
        val concat = a + b
        if (priorConcats.contains(concat)) collided = true
        newSyms += concat
        // rule 3's bound for THIS merge: panel pairs ending in `a` or
        // starting with `b` cap every pair it can create
        var bound = cutoff
        var p = 0
        while (p < panel.length) {
          val (pa, pb, pn) = panel(p)
          if (pb == a || pa == b) bound = math.max(bound, pn)
          p += 1
        }
        maxCreatedBound = math.max(maxCreatedBound, bound)
        j += 1
      }
    }
    selected.toSeq
  }

  /** Left-to-right application of a whole batch, in rank order. */
  private[graft] def applyBatch(w: Seq[String],
                                batch: Seq[(String, String, Long)]): Seq[String] =
    batch.foldLeft(w) { case (syms, (a, b, _)) => applyMerge(syms, a, b) }

  /** Train `numMerges` merges on the full corpus; returns the merge
    * table (rank, left, right, n_pairs) ordered by rank. The result is
    * driver-sized by construction (one row per merge), so building the
    * output frame locally is not a collect smell. Internally batched
    * (see [[selectBatch]]) — the output is bit-identical to the
    * one-merge-per-round loop at a fraction of the round count, so the
    * distributed == driver differential pins survive unchanged. */
  /** Rounds (pair-recount jobs) the most recent [[train]] call took —
    * instrumentation for the rounds-vs-merges batching claim (a batch
    * takes provably-sequential merges per recount, so rounds ≪ merges
    * in the deep tail); read by BpeTrainSpec and the BASELINE
    * measurement, never by product code. */
  @volatile private[graft] var lastTrainRounds: Int = 0

  def train(docs: DataFrame, numMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._

    lastTrainRounds = 0
    var words = wordFreq(docs).localCheckpoint(true)
    // Lineage control at 1/8 the job count: a localCheckpoint is its
    // own Spark job, and with batching the ROUND count (not the merge
    // count) is the wall — so checkpoint every 8th round and let the
    // in-between rounds' panel aggregates execute the (narrow,
    // shrinking) pending map chain as part of their own job.
    var lastCkpt = words
    var sinceCkpt = 0
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var exhausted = false
    while (merges.length < numMerges && !exhausted) {
      // Adjacent pairs of each word, weighted by word frequency. The
      // index lambda pairs syms[i] with syms[i+1]; slice bounds the
      // transform to n-1 elements so no null partner appears.
      val panel = words.toDF()
        .select(explode(expr(
          "transform(slice(syms, 1, size(syms) - 1), (x, i) -> struct(x AS a, syms[i + 1] AS b))"))
          .as("p"), col("f"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("f").as("n_pairs"))
        .orderBy(col("n_pairs").desc, col("a"), col("b"))
        .limit(PanelK)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      lastTrainRounds += 1
      if (panel.isEmpty) exhausted = true
      else {
        // Complete panel (< PanelK rows) ⇒ off-panel pairs don't exist
        // and the created-pair floor is 0; truncated panel ⇒ floor at
        // the last collected count.
        val cutoff = if (panel.length < PanelK) 0L else panel.last._3
        val priorConcats = merges.iterator.map(m => m.left + m.right).toSet
        val batch = selectBatch(panel, cutoff, priorConcats,
          maxTake = numMerges - merges.length)
        batch.foreach { case (a, b, n) =>
          merges += Merge(merges.length, a, b, n)
        }
        words = words
          .map(w => WordRow(applyBatch(w.syms, batch), w.f))
          .filter(_.syms.lengthCompare(1) > 0)
        sinceCkpt += 1
        if (sinceCkpt >= 8) {
          val ck = words.localCheckpoint(true)
          SqlBridge.unpin(lastCkpt)
          lastCkpt = ck
          words = ck
          sinceCkpt = 0
        }
      }
    }
    SqlBridge.unpin(lastCkpt)
    spark.createDataFrame(merges.toSeq).orderBy("rank")
  }

  /** The trained table as a [[Bpe.Ranks]] — plugs straight into
    * [[graft.functions.BpeCount]] / [[TextAnalysis.bpeCorpusTokens]]'s
    * broadcast-encode path, so corpus-trained merges serve encoding
    * with zero format conversion. */
  def toRanks(mergeTable: DataFrame): Bpe.Ranks =
    Bpe.Ranks(mergeTable.select("left", "right", "rank").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getInt(2)).toMap)
}
