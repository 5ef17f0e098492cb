package graft.text

import graft.SparkFixture
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck generator-driven properties for the co-occurrence kernel
  * (SURVEY §5.3) — corpora are generated (seeded, reproducible), not
  * fixture-derived, so the invariants hold on arbitrary token streams.
  * (The scalatest/scalacheck bridge artifact is not in the offline
  * cache, so generators are sampled directly.)
  */
class CooccurrencePropSpec extends AnyFunSuite with SparkFixture {

  private val corpusGen: Gen[Seq[(Long, String)]] = for {
    nDocs <- Gen.choose(1, 15)
    docs <- Gen.listOfN(nDocs, for {
      n <- Gen.choose(0, 14)
      toks <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "e"))
    } yield toks.mkString(" "))
  } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (1 to n).flatMap(i => g(Gen.Parameters.default, Seed(i.toLong)))

  test("pair mass equals the closed form on generated corpora") {
    for (docs <- samples(corpusGen, 6); w <- Seq(1, 3)) {
      val df = spark.createDataFrame(docs).toDF("doc_id", "text")
      val mass = Cooccurrence.wordPairs(df, w).agg(sum("wt")).collect()(0)
      val got = if (mass.isNullAt(0)) 0.0 else mass.getDouble(0)
      val expected = docs.map { case (_, text) =>
        val n = text.split(" ", -1).length // split keeps empties, as the kernel does
        2.0 * (1 to w).map(d => math.max(0, n - d) / d.toDouble).sum
      }.sum
      assert(math.abs(got - expected) < 1e-9, s"w=$w docs=${docs.take(2)}")
    }
  }

  test("canonical distance mode equals kept-token mode when nothing is OOV") {
    val vocab = Map("a" -> 0, "b" -> 1, "c" -> 2, "d" -> 3, "e" -> 4)
    val vocabDf = spark.createDataFrame(vocab.toSeq).toDF("w", "id0")
    for (docs <- samples(corpusGen, 4); w <- Seq(1, 3)) {
      val df = spark.createDataFrame(docs).toDF("doc_id", "text")
      def cells(m: org.apache.spark.sql.Dataset[Cooc]) =
        m.collect().map(c => (c.i, c.j) -> c.x).toMap
      val kept = cells(Cooccurrence.matrix(df, vocab, w))
      val canon = cells(Cooccurrence.matrix(df, vocab, w,
        distanceOverOriginalPositions = true))
      assert(kept.keySet == canon.keySet)
      kept.foreach { case (k, x) => assert(math.abs(canon(k) - x) < 1e-9, s"$k") }
      // distributed-vocab path agrees in canonical mode too
      val canonJoin = cells(Cooccurrence.matrixViaJoin(df, vocabDf, w,
        distanceOverOriginalPositions = true))
      assert(canon.keySet == canonJoin.keySet)
      canon.foreach { case (k, x) => assert(math.abs(canonJoin(k) - x) < 1e-9) }
    }
  }

  test("canonical mode: OOV tokens still cost window distance") {
    val docs = spark.createDataFrame(Seq((0L, "a oov b"))).toDF("doc_id", "text")
    val vocab = Map("a" -> 0, "b" -> 1)
    // window 1: the a..b original distance is 2 -> no pair in canonical
    // mode, while kept-token mode re-measures the distance to 1
    assert(Cooccurrence.matrix(docs, vocab, 1,
      distanceOverOriginalPositions = true).collect().isEmpty)
    val kept1 = Cooccurrence.matrix(docs, vocab, 1).collect()
    assert(kept1.map(c => ((c.i, c.j), c.x)).toMap ==
      Map((0, 1) -> 1.0, (1, 0) -> 1.0))
    // window 2: canonical weighs the pair 1/2, kept-token mode 1/1
    val canon2 = Cooccurrence.matrix(docs, vocab, 2,
      distanceOverOriginalPositions = true).collect()
    assert(canon2.map(c => ((c.i, c.j), c.x)).toMap ==
      Map((0, 1) -> 0.5, (1, 0) -> 0.5))
  }

  test("canonical mass never exceeds kept-token mass (OOV vocab subsets)") {
    val vocab = Map("a" -> 0, "b" -> 1, "c" -> 2) // d, e are OOV
    for (docs <- samples(corpusGen, 4); w <- Seq(2, 3)) {
      val df = spark.createDataFrame(docs).toDF("doc_id", "text")
      def mass(m: org.apache.spark.sql.Dataset[Cooc]) =
        m.collect().map(_.x).sum
      val kept = mass(Cooccurrence.matrix(df, vocab, w))
      val canon = mass(Cooccurrence.matrix(df, vocab, w,
        distanceOverOriginalPositions = true))
      assert(canon <= kept + 1e-9, s"canonical mass $canon > kept $kept")
      // and the two distributed-vocab variants match their map twins
      val vocabDf = spark.createDataFrame(vocab.toSeq).toDF("w", "id0")
      val canonJoin = mass(Cooccurrence.matrixViaJoin(df, vocabDf, w,
        distanceOverOriginalPositions = true))
      assert(math.abs(canonJoin - canon) < 1e-9)
    }
  }

  test("aggregated matrix is symmetric on generated corpora") {
    for (docs <- samples(corpusGen, 6)) {
      val df = spark.createDataFrame(docs).toDF("doc_id", "text")
      val agg = Cooccurrence.wordPairs(df, window = 2)
        .groupBy("w1", "w2").agg(sum("wt")).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
      agg.foreach { case ((w1, w2), x) =>
        assert(math.abs(agg((w2, w1)) - x) < 1e-9, s"asymmetric at ($w1,$w2)")
      }
    }
  }

  test("a tiny map bound flushes many times and leaves the cells unchanged") {
    // A bound of 2 cells flushes the map after every pair step, in every
    // partition; the summed cells must equal the default bound's, for both
    // kernels, both window kinds and both distance modes.
    val vocab = Map("a" -> 0, "b" -> 1, "c" -> 2) // d, e are OOV
    val vocabDf = spark.createDataFrame(vocab.toSeq).toDF("w", "id0")
    def cells(m: org.apache.spark.sql.Dataset[Cooc]) = m.collect().map(c => (c.i, c.j) -> c.x).toMap
    def assertClose(a: Map[(Int, Int), Double], b: Map[(Int, Int), Double], what: String) = {
      assert(a.keySet == b.keySet, what)
      a.foreach { case (k, x) => assert(math.abs(b(k) - x) < 1e-9, s"$what at $k") }
    }
    for (docs <- samples(corpusGen, 3); w <- Seq(1, 3); sym <- Seq(true, false);
         canonical <- Seq(false, true)) {
      val df = spark.createDataFrame(docs).toDF("doc_id", "text")
      val what = s"w=$w symmetric=$sym canonical=$canonical"
      val default = cells(Cooccurrence.matrix(df, vocab, w, "text", sym, canonical))
      assertClose(cells(Cooccurrence.matrix(df, vocab, w, "text", sym, canonical, 3, 2)),
        default, s"matrix, $what")
      assertClose(cells(Cooccurrence.matrixViaJoin(df, vocabDf, w, "doc_id", "text", sym,
        canonical, 3, 2)), default, s"matrixViaJoin, $what")
    }
  }

  test("with no OOV token, tiny-bound cells equal the wordPairs aggregate") {
    val vocab = Map("a" -> 0, "b" -> 1, "c" -> 2, "d" -> 3, "e" -> 4)
    val vocabDf = spark.createDataFrame(vocab.toSeq).toDF("w", "id0")
    for (docs <- samples(corpusGen, 3); w <- Seq(1, 3); sym <- Seq(true, false)) {
      val df = spark.createDataFrame(docs).toDF("doc_id", "text")
      val agg = Cooccurrence.wordPairs(df, w, symmetric = sym)
        .groupBy("w1", "w2").agg(sum("wt")).collect()
        .map(r => (vocab(r.getString(0)), vocab(r.getString(1))) -> r.getDouble(2)).toMap
      for (m <- Seq(Cooccurrence.matrix(df, vocab, w, "text", sym, false, 3, 2),
          Cooccurrence.matrixViaJoin(df, vocabDf, w, "doc_id", "text", sym, true, 3, 2))) {
        val got = m.collect().map(c => (c.i, c.j) -> c.x).toMap
        assert(got.keySet == agg.keySet, s"w=$w symmetric=$sym")
        got.foreach { case (k, x) => assert(math.abs(agg(k) - x) < 1e-9, s"w=$w symmetric=$sym at $k") }
      }
    }
  }
}
