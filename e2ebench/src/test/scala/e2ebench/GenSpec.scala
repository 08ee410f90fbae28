package e2ebench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Generators are pure functions of the seed: the same seed gives the
  * same inputs, whatever the partitioning that writes them. */
class GenSpec extends AnyFunSuite with BeforeAndAfterAll {
  // Scratch space under the build's target/, which tests run from.
  private lazy val dir = {
    Files.createDirectories(Paths.get("target"))
    Files.createTempDirectory(Paths.get("target"), "gen").toAbsolutePath.toString
  }
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
    .config("spark.local.dir", s"$dir/spark-local")
    .getOrCreate()

  override def afterAll(): Unit = {
    spark.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  private def mixture(seed: Long) = Gen.Mixture(seed, 16, 5, 0.03)
  private def zipf(seed: Long) = Gen.Zipf(seed, 500, 1.0)
  private def corpus(seed: Long) = Gen.CorpusSpec(seed, zipf(seed), 400, 0.05, 0.10, 0.03, 20, 40)

  test("vectors: same seed, same unit-norm points; another seed, other points") {
    val a = (0L until 50).map(i => mixture(7).point(Gen.Base, i))
    val b = (0L until 50).map(i => mixture(7).point(Gen.Base, i))
    assert(a.map { case (l, v) => (l, v.toSeq) } == b.map { case (l, v) => (l, v.toSeq) })
    assert(a.forall { case (_, v) => math.abs(v.map(x => x.toDouble * x).sum - 1.0) < 1e-5 })
    val c = (0L until 50).map(i => mixture(8).point(Gen.Base, i))
    assert(a.map(_._2.toSeq) != c.map(_._2.toSeq))
    // queries are held out: another stream than the table
    assert(mixture(7).point(Gen.Query, 0)._2.toSeq != a.head._2.toSeq)
  }

  test("dbpedia text: deterministic, and the expected token total matches the text") {
    val spec = Gen.Dbpedia(mixture(7), zipf(7), 200, 5, 15)
    assert((0L until 200).map(spec.text) == (0L until 200).map(spec.text))
    val counted = (0L until 200).map { id =>
      val (t, x) = spec.text(id)
      (t + " " + x).split("\\s+").count(_.nonEmpty).toLong
    }.sum
    assert(spec.expectedTokens == counted)
  }

  test("corpus: exact copies equal their source, near copies differ by a few tokens") {
    val s = corpus(7)
    assert((0L until s.docs).map(s.doc) == (0L until s.docs).map(s.doc))
    val exact = (0L until s.docs).filter(s.isExact)
    val near = (0L until s.docs).filter(s.isNear)
    assert(exact.size == 20 && near.size == 40)
    assert(exact.forall(c => s.doc(c)._1 == s.doc(s.sourceOf(c))._1))
    near.foreach { c =>
      val (a, b) = (s.doc(c)._1.split(" "), s.doc(s.sourceOf(c))._1.split(" "))
      assert(a.length == b.length)
      val edits = a.zip(b).count { case (x, y) => x != y }
      assert(edits >= 1 && edits <= a.length / 3)
    }
  }

  test("written inputs have the same checksum whatever the partitioning") {
    val s = corpus(7)
    Gen.writeCorpus(spark, s, s"$dir/c1", 1)
    Gen.writeCorpus(spark, s, s"$dir/c3", 3)
    Gen.writeCorpus(spark, corpus(8), s"$dir/other", 3)
    val sum = (p: String) => Gen.checksum(spark.read.parquet(s"$dir/$p"))
    assert(sum("c1") == sum("c3"))
    assert(sum("c1") != sum("other"))

    val spec = Gen.Dbpedia(mixture(7), zipf(7), 300, 5, 15)
    Gen.writeDbpedia(spark, spec, s"$dir/d1", 1)
    Gen.writeDbpedia(spark, spec, s"$dir/d4", 4)
    assert(sum("d1") == sum("d4"))
  }
}
