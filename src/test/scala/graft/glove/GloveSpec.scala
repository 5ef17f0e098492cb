package graft.glove

import graft.SparkFixture
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

/** T-6 quality gates (SURVEY §5.3) — property tests, never hash-matches
  * on trained floats: loss decreases, no NaN/Inf, seeded reproducibility
  * at fixed parallelism, co-occurring words become neighbors.
  */
class GloveSpec extends AnyFunSuite with SparkFixture {

  // Tiny synthetic corpus with strong structure: (a,b) and (x,y) always
  // adjacent, the two cliques never mix.
  private lazy val corpus = {
    val rng = new scala.util.Random(11L)
    val docs = (0 until 120).map { i =>
      val pair = if (i % 2 == 0) Seq("aa", "bb") else Seq("xx", "yy")
      val toks = (0 until 10).flatMap(_ => rng.shuffle(pair))
      (i.toLong, toks.mkString(" "))
    }
    spark.createDataFrame(docs).toDF("doc_id", "text")
  }

  private def fit(seed: Long = 42L, iters: Int = 15) =
    new Glove(dim = 8, window = 2, minCount = 1, iterations = iters,
      numPartitions = 4, seed = seed).fit(corpus)

  test("loss decreases and stays finite") {
    val m = fit()
    val l = m.lossHistory
    assert(l.nonEmpty && l.forall(x => !x.isNaN && !x.isInfinite))
    assert(l.last < l.head, s"loss did not decrease: ${l.head} -> ${l.last}")
  }

  test("a broadcast-path fit scans the corpus twice: vocabulary, then co-occurrence") {
    val n = corpus.count()
    val acc = spark.sparkContext.longAccumulator("gloveDocRows")
    val counted = corpus.filter((_: Row) => { acc.add(1); true })
    new Glove(dim = 8, window = 2, minCount = 1, iterations = 2,
      numPartitions = 4).fit(counted)
    assert(acc.value == 2 * n, s"fit read ${acc.value} document rows from a $n-row corpus")
  }

  test("the loss history at a fixed seed is pinned") {
    // Recorded when the cells were summed by a typed groupByKey and then
    // hash-repartitioned and sorted by the trainer. The trainer must see
    // every cell in the same partition and order; only float rounding of
    // the cell sums may differ.
    val pinned = Seq(22.281459473260508, 21.95097296707563, 21.682532823302175,
      21.45095538052613, 21.244258483974754, 21.05555237478371, 20.880366101351722,
      20.71552661682185, 20.558613808363585, 20.407669242088698, 20.261032070483754,
      20.11724534768396, 19.975003970383504, 19.833127804824144, 19.69054978555725)
    val got = fit().lossHistory
    assert(got.length == pinned.length)
    got.zip(pinned).zipWithIndex.foreach { case ((g, p), k) =>
      assert(math.abs(g - p) <= 1e-6 * math.abs(p), s"iteration $k: loss $g, pinned $p")
    }
  }

  test("a broadcast-path fit shuffles the co-occurrence cells once") {
    // Counts the stages that write shuffle output in jobs tagged from this
    // thread, as GloveBlockSpec's listener counts task results.
    val tag = "graft.test.shuffleStages"
    val listener = new SparkListener {
      val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      val writing = new java.util.concurrent.atomic.AtomicInteger(0)
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(tag) != null) e.stageIds.foreach(stages.add)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        if (stages.contains(e.stageInfo.stageId) && m != null && m.shuffleWriteMetrics.recordsWritten > 0)
          writing.incrementAndGet()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setLocalProperty(tag, "on")
    try {
      new Glove(dim = 8, window = 2, minCount = 1, iterations = 2, numPartitions = 4).fit(corpus)
      Thread.sleep(500) // let straggler listener events drain
      // the vocabulary (two), then the co-occurrence cells once: the
      // trainer reads them in the partitions they were shuffled to
      assert(listener.writing.get() == 3, s"${listener.writing.get()} shuffle-writing stages")
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }

  test("a corpus with no co-occurring pair is rejected on both trainer paths") {
    // every document keeps one token: the vocabulary is not empty, the matrix is
    val docs: DataFrame = spark.createDataFrame(
      (0 until 8).map(i => (i.toLong, if (i % 2 == 0) "aa" else "bb"))).toDF("doc_id", "text")
    val g = new Glove(dim = 8, window = 2, minCount = 1, iterations = 3, numPartitions = 4)
    for (budget <- Seq(Glove.MaxBroadcastParams, 0L)) {
      val e = intercept[IllegalArgumentException](g.fit(docs, "text", budget))
      assert(e.getMessage.contains("empty co-occurrence matrix"), s"budget $budget: ${e.getMessage}")
    }
  }

  test("hyperparameters must be positive") {
    val bad = Seq[(String, () => Glove)](
      "dim" -> (() => new Glove(dim = 0)), "window" -> (() => new Glove(window = 0)),
      "iterations" -> (() => new Glove(iterations = 0)),
      "numPartitions" -> (() => new Glove(numPartitions = 0)),
      "xMax" -> (() => new Glove(xMax = 0.0)), "learningRate" -> (() => new Glove(learningRate = -1.0)))
    bad.foreach { case (name, make) =>
      val e = intercept[IllegalArgumentException](make())
      assert(e.getMessage.contains(name), e.getMessage)
    }
  }

  test("seeded run is reproducible at fixed parallelism") {
    val a = fit().embeddings.orderBy("id").collect().map(_.getSeq[Float](2))
    val b = fit().embeddings.orderBy("id").collect().map(_.getSeq[Float](2))
    assert(a.zip(b).forall { case (u, v) => u == v })
  }

  test("co-occurring words are nearest neighbors") {
    val m = fit(iters = 30)
    val nn = m.findSynonyms("aa", 1).collect()(0).getString(0)
    assert(nn == "bb", s"nearest neighbor of 'aa' was '$nn', expected 'bb'")
    val nn2 = m.findSynonyms("xx", 1).collect()(0).getString(0)
    assert(nn2 == "yy", s"nearest neighbor of 'xx' was '$nn2', expected 'yy'")
  }

  test("asymmetric windows and maxVocab train to a working model") {
    val m = new Glove(dim = 8, window = 2, minCount = 1, iterations = 10,
      numPartitions = 4, symmetric = false, maxVocab = Some(3L)).fit(corpus)
    // 4 words in the corpus, cut to the top 3 ranks
    assert(m.embeddings.count() == 3)
    val l = m.lossHistory
    assert(l.last < l.head && l.forall(x => !x.isNaN && !x.isInfinite))
  }

  test("model save/load round-trips embeddings, dim, loss history and params") {
    val m = fit(iters = 5)
    val dir = java.nio.file.Files.createTempDirectory("glove").toString + "/model"
    m.save(dir)
    val loaded = GloveModel.load(spark, dir) // no dim argument
    assert(loaded.dim == m.dim)
    assert(loaded.lossHistory == m.lossHistory)
    assert(loaded.params == m.params && loaded.params("window") == "2")
    assert(loaded.embeddings.count() == m.embeddings.count())
    // behavioral equality, not just counts: same synonyms, same scores
    assert(loaded.findSynonyms("aa", 3).collect().toSeq ==
      m.findSynonyms("aa", 3).collect().toSeq)
  }

  test("canonical text format round-trips vectors bit-exactly in rank order") {
    val m = fit(iters = 5)
    val dir = java.nio.file.Files.createTempDirectory("glove_txt").toString + "/vectors"
    m.saveText(dir)
    val loaded = GloveModel.loadText(spark, dir)
    assert(loaded.dim == m.dim)
    val orig = m.embeddings.orderBy("id").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getSeq[Float](2)))
    val back = loaded.embeddings.orderBy("id").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getSeq[Float](2)))
    assert(back.map(_._1).toSeq == orig.map(_._1).toSeq, "rank order lost")
    assert(back.map(_._3).toSeq == orig.map(_._3).toSeq, "vectors not bit-exact")
    // and the loaded model behaves identically
    assert(loaded.findSynonyms("aa", 3).collect().toSeq ==
      m.findSynonyms("aa", 3).collect().toSeq)
  }

  test("transform produces doc vectors of the right shape") {
    val m = fit(iters = 5)
    val out = m.transform(corpus.limit(4))
    val rows = out.collect()
    assert(rows.length == 4)
    assert(rows.forall(r => r.getSeq[Double](r.fieldIndex("doc_vec")).length == 8))
  }
}
