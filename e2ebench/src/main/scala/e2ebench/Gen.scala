package e2ebench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every row is a pure function of
  * (seed, stream, id): the same seed gives the same rows no matter how
  * many partitions write them, and a row can be regenerated on the
  * client side (for expected values) without reading the written files. */
object Gen {

  // Independent random streams, one per kind of input.
  val Centers = 1L
  val Base = 2L
  val Query = 3L
  val Delta = 4L
  val Text = 5L
  val Vocab = 6L
  val Corpus = 7L
  val Pick = 8L
  val Edit = 9L

  /** splitmix64 finalizer. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def rng(seed: Long, stream: Long, id: Long): SplittableRandom =
    new SplittableRandom(mix(mix(mix(seed) ^ stream) + id))

  // ---------------------------------------------------------------- vectors

  /** A unit-norm Gaussian mixture: `clusters` random unit directions,
    * each point a centre plus isotropic noise of per-component stddev
    * `spread`, renormalized. */
  final case class Mixture(seed: Long, dim: Int, clusters: Int, spread: Double) {
    val centers: Array[Array[Double]] = Array.tabulate(clusters) { j =>
      val r = rng(seed, Centers, j)
      unit(Array.fill(dim)(r.nextGaussian()))
    }

    /** (label, embedding) of row `id` in `stream`. */
    def point(stream: Long, id: Long): (Int, Array[Float]) = {
      val r = rng(seed, stream, id)
      val label = r.nextInt(clusters)
      val c = centers(label)
      val v = unit(Array.tabulate(dim)(i => c(i) + spread * r.nextGaussian()))
      (label, v.map(_.toFloat))
    }
  }

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  // ------------------------------------------------------------------- text

  /** A Zipf-distributed vocabulary of synthetic lowercase words. */
  final case class Zipf(seed: Long, size: Int, exponent: Double) {
    val words: Array[String] = Array.tabulate(size) { i =>
      val r = rng(seed, Vocab, i)
      val len = 2 + r.nextInt(8)
      new String(Array.fill(len)(('a' + r.nextInt(26)).toChar))
    }
    private val cdf: Array[Double] = {
      val w = Array.tabulate(size)(i => 1.0 / math.pow(i + 1, exponent))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def draw(r: SplittableRandom): String = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      words(math.min(if (i >= 0) i else -i - 1, size - 1))
    }
    def sentence(r: SplittableRandom, n: Int): Array[String] = Array.fill(n)(draw(r))
  }

  // ---------------------------------------------------------- dbpedia table

  /** Shape of the dbpedia-like table: (vec_id, label, title, text,
    * embedding). Titles are 1-4 words, abstracts `minWords` to
    * `maxWords` words. */
  final case class Dbpedia(mix: Mixture, zipf: Zipf, rows: Long, minWords: Int, maxWords: Int) {
    /** (title word count, text word count) of a row — drawn first from
      * the row's text stream, so the expected token total needs no words. */
    def lengths(id: Long): (Int, Int) = {
      val r = rng(mix.seed, Text, id)
      (1 + r.nextInt(4), minWords + r.nextInt(maxWords - minWords + 1))
    }
    def text(id: Long): (String, String) = {
      val r = rng(mix.seed, Text, id)
      val nt = 1 + r.nextInt(4)
      val nw = minWords + r.nextInt(maxWords - minWords + 1)
      (zipf.sentence(r, nt).map(_.capitalize).mkString(" "), zipf.sentence(r, nw).mkString(" "))
    }
    /** Whitespace-token total of title + text over all rows. */
    def expectedTokens: Long = (0L until rows).map { id => val (a, b) = lengths(id); (a + b).toLong }.sum
  }

  def writeDbpedia(spark: SparkSession, spec: Dbpedia, path: String, slices: Int): Unit = {
    import spark.implicits._
    spark.range(0, spec.rows, 1, slices).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val (label, emb) = spec.mix.point(Base, id)
        val (title, text) = spec.text(id)
        (id, label, title, text, emb)
      }
    }.toDF("vec_id", "label", "title", "text", "embedding")
      .write.mode("overwrite").parquet(path)
  }

  /** Vectors from `stream` with ids [from, from + n), as (vec_id, embedding). */
  def vectorFrame(spark: SparkSession, m: Mixture, stream: Long, from: Long, n: Long,
                  slices: Int): DataFrame = {
    import spark.implicits._
    spark.range(from, from + n, 1, slices).as[Long].mapPartitions { ids =>
      ids.map(id => (id, m.point(stream, id)._2))
    }.toDF("vec_id", "embedding")
  }

  /** Held-out query panel: (query_id, qv), drawn from the same mixture
    * as the table but from a stream the table never uses. */
  def writePanel(spark: SparkSession, m: Mixture, n: Int, path: String): Unit =
    vectorFrame(spark, m, Query, 0, n, 1).toDF("query_id", "qv")
      .write.mode("overwrite").parquet(path)

  // ----------------------------------------------------------------- corpus

  /** Planted-duplicate corpus. Ids [0, originals) are originals;
    * the next `exactCopies` ids are byte-identical copies of a random
    * original; the next `nearCopies` ids copy a random original with
    * each token replaced by a fresh Zipf word with probability
    * `editRate` (at least one token is always replaced). */
  final case class CorpusSpec(seed: Long, zipf: Zipf, docs: Long, exactShare: Double,
                              nearShare: Double, editRate: Double, minWords: Int,
                              maxWords: Int) {
    val exactCopies: Long = math.round(docs * exactShare)
    val nearCopies: Long = math.round(docs * nearShare)
    val originals: Long = docs - exactCopies - nearCopies
    require(originals > 0, "corpus needs at least one original")

    def isExact(id: Long): Boolean = id >= originals && id < originals + exactCopies
    def isNear(id: Long): Boolean = id >= originals + exactCopies && id < docs
    /** The original a planted copy was taken from. */
    def sourceOf(id: Long): Long = rng(seed, Pick, id).nextLong(originals)

    private val langs = Array("en", "en", "en", "en", "en", "en", "en", "de", "fr", "es")
    private val sources = Array("web", "web", "web", "books", "wiki", "forum")

    private def original(id: Long): (Array[String], String) = {
      val r = rng(seed, Corpus, id)
      val n = minWords + r.nextInt(maxWords - minWords + 1)
      (zipf.sentence(r, n), langs(r.nextInt(langs.length)))
    }

    /** (text, lang, source) of document `id`. */
    def doc(id: Long): (String, String, String) = {
      val source = sources(rng(seed, Pick, ~id).nextInt(sources.length))
      if (id < originals) {
        val (w, lang) = original(id)
        (w.mkString(" "), lang, source)
      } else {
        val (w, lang) = original(sourceOf(id))
        if (isNear(id)) {
          val r = rng(seed, Edit, id)
          val forced = r.nextInt(w.length)
          for (i <- w.indices if i == forced || r.nextDouble() < editRate) {
            var t = zipf.draw(r)
            while (t == w(i)) t = zipf.draw(r)
            w(i) = t
          }
        }
        (w.mkString(" "), lang, source)
      }
    }
  }

  def writeCorpus(spark: SparkSession, spec: CorpusSpec, path: String, slices: Int): Unit = {
    import spark.implicits._
    spark.range(0, spec.docs, 1, slices).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val (text, lang, source) = spec.doc(id)
        (id, text, lang, source, text.length)
      }
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(path)
  }

  /** Order-independent content checksum of a written input: the row
    * count and the sum of a 64-bit hash over every column of every row.
    * Two runs that print the same checksum read the same values. */
  def checksum(df: DataFrame): String = {
    val r = df.select(xxhash64(df.columns.map(col): _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).collect()(0)
    s"${r.getLong(0)}:${r.getDecimal(1)}"
  }
}
