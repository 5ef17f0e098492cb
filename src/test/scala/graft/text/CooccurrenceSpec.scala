package graft.text

import graft.SparkFixture
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** T-4 properties (SURVEY §5.3): the production flatMap kernel must be
  * exactly equivalent to the band-self-join oracle formulation, the
  * aggregated matrix symmetric, and per-document pair mass must follow
  * the closed form 2·Σ_{d=1..w} (n−d)/d.
  */
class CooccurrenceSpec extends AnyFunSuite with SparkFixture {

  private def randomCorpus(nDocs: Int, seed: Long) = {
    val rng = new scala.util.Random(seed)
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    val docs = (0 until nDocs).map { i =>
      val n = 1 + rng.nextInt(12)
      (i.toLong, (0 until n).map(_ => vocab(rng.nextInt(vocab.size))).mkString(" "))
    }
    spark.createDataFrame(docs).toDF("doc_id", "text")
  }

  private def joinFormulation(docs: org.apache.spark.sql.DataFrame, w: Int) = {
    val toks = docs.select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
    val a = toks.as("a"); val b = toks.as("b")
    a.join(b,
        col("a.doc_id") === col("b.doc_id") &&
        col("b.pos").between(col("a.pos") - w, col("a.pos") + w) &&
        col("a.pos") =!= col("b.pos"))
      .select(col("a.w").as("w1"), col("b.w").as("w2"),
        (lit(1.0) / abs(col("a.pos") - col("b.pos"))).as("wt"))
      .groupBy("w1", "w2")
      .agg(round(sum("wt"), 6).as("x"), count(lit(1)).as("c"))
  }

  test("flatMap kernel equals band-join oracle on random corpora (w=2,3)") {
    for (seed <- Seq(1L, 2L, 3L); w <- Seq(2, 3)) {
      val docs = randomCorpus(40, seed)
      val kernel = Cooccurrence.wordPairs(docs, w)
        .groupBy("w1", "w2")
        .agg(round(sum("wt"), 6).as("x"), count(lit(1)).as("c"))
      val oracle = joinFormulation(docs, w)
      assert(kernel.except(oracle).isEmpty && oracle.except(kernel).isEmpty,
        s"kernel != join oracle at seed=$seed w=$w")
    }
  }

  test("aggregated matrix is symmetric") {
    val docs = randomCorpus(50, 7L)
    val agg = Cooccurrence.wordPairs(docs, window = 2)
      .groupBy("w1", "w2")
      .agg(sum("wt").as("x"), count(lit(1)).as("c"))
    val flipped = agg.select(col("w2").as("w1"), col("w1").as("w2"), col("x"), col("c"))
    assert(agg.except(flipped).isEmpty && flipped.except(agg).isEmpty)
  }

  test("per-document pair mass matches closed form") {
    val w = 2
    for (n <- Seq(1, 2, 3, 5, 9)) {
      val text = (0 until n).map(i => s"t$i").mkString(" ")
      val docs = spark.createDataFrame(Seq((0L, text))).toDF("doc_id", "text")
      val mass = Cooccurrence.wordPairs(docs, w).agg(sum("wt")).collect()(0)
      val expected = 2.0 * (1 to w).map(d => math.max(0, n - d) / d.toDouble).sum
      val got = if (mass.isNullAt(0)) 0.0 else mass.getDouble(0)
      assert(math.abs(got - expected) < 1e-9, s"n=$n got=$got expected=$expected")
    }
  }

  test("join-based matrix (distributed vocab) equals broadcast-map matrix") {
    val docs = randomCorpus(60, 13L).withColumn("doc_id",
      org.apache.spark.sql.functions.col("doc_id"))
    val vocab = Map("a" -> 0, "b" -> 1, "c" -> 2, "d" -> 3) // e..h are OOV
    val vocabDf = spark.createDataFrame(
      vocab.toSeq.map { case (w, i) => (w, i) }).toDF("w", "id0")
    for (w <- Seq(2, 3)) {
      val viaMap = Cooccurrence.matrix(docs, vocab, w).collect()
        .map(c => (c.i, c.j) -> c.x).toMap
      val viaJoin = Cooccurrence.matrixViaJoin(docs, vocabDf, w).collect()
        .map(c => (c.i, c.j) -> c.x).toMap
      assert(viaJoin.keySet == viaMap.keySet)
      viaMap.foreach { case (k, x) =>
        assert(math.abs(viaJoin(k) - x) < 1e-9, s"cell $k differs at w=$w")
      }
    }
  }

  test("asymmetric (left-context) mode: half the mass, context precedes focus") {
    val docs = randomCorpus(40, 21L)
    val sym = Cooccurrence.wordPairs(docs, 2).agg(sum("wt")).collect()(0).getDouble(0)
    val asym = Cooccurrence.wordPairs(docs, 2, symmetric = false)
      .agg(sum("wt")).collect()(0).getDouble(0)
    assert(math.abs(sym - 2 * asym) < 1e-9, s"sym=$sym asym=$asym")

    // on a single ordered document the asymmetric pairs are exactly
    // (later token, earlier token)
    val seqDoc = spark.createDataFrame(Seq((0L, "t0 t1 t2 t3"))).toDF("doc_id", "text")
    val pairs = Cooccurrence.wordPairs(seqDoc, 2, symmetric = false)
      .select("w1", "w2").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs == Set(("t1", "t0"), ("t2", "t1"), ("t3", "t2"),
      ("t2", "t0"), ("t3", "t1")))
    // all three formulations agree in asymmetric mode too
    val vocab = Map("a" -> 0, "b" -> 1, "c" -> 2, "d" -> 3)
    val vocabDf = spark.createDataFrame(vocab.toSeq).toDF("w", "id0")
    val viaMap = Cooccurrence.matrix(docs, vocab, 2, symmetric = false).collect()
      .map(c => (c.i, c.j) -> c.x).toMap
    val viaJoin = Cooccurrence.matrixViaJoin(docs, vocabDf, 2, symmetric = false)
      .collect().map(c => (c.i, c.j) -> c.x).toMap
    assert(viaMap.keySet == viaJoin.keySet)
    viaMap.foreach { case (k, x) => assert(math.abs(viaJoin(k) - x) < 1e-9) }
  }

  test("id-space matrix drops OOV and stays symmetric") {
    val docs = spark.createDataFrame(Seq(
      (0L, "a b oov a"), (1L, "b a b"))).toDF("doc_id", "text")
    val vocab = Map("a" -> 0, "b" -> 1)
    val m = Cooccurrence.matrix(docs, vocab, window = 2).collect()
    assert(m.forall(c => c.i <= 1 && c.j <= 1))
    val asMap = m.map(c => (c.i, c.j) -> c.x).toMap
    assert(asMap.forall { case ((i, j), x) => math.abs(asMap((j, i)) - x) < 1e-9 })
  }

  test("matrix cells are hash-partitioned by (i, j) and sorted within partitions") {
    // The broadcast trainer reads this layout as it is: partition
    // pmod(hash(i, j), n), ascending (i, j) inside each partition.
    val n = 3
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g").zipWithIndex.toMap // h is OOV
    val m = Cooccurrence.matrix(randomCorpus(40, 5L), vocab, 3, "text", true, false, n)
    assert(m.rdd.getNumPartitions == n)
    val rows = m.select(spark_partition_id().as("p"),
        pmod(hash(col("i"), col("j")), lit(n)).as("want"), col("i"), col("j"))
      .collect()
    assert(rows.map(_.getInt(0)).distinct.length == n)
    assert(rows.forall(r => r.getInt(0) == r.getInt(1)), "a cell outside its hash partition")
    rows.groupBy(_.getInt(0)).foreach { case (p, part) =>
      val keys = part.map(r => (r.getInt(2), r.getInt(3))).toSeq
      assert(keys.zip(keys.drop(1)).forall { case (a, b) => Ordering[(Int, Int)].lt(a, b) },
        s"partition $p is not sorted by (i, j)")
    }
  }
}
