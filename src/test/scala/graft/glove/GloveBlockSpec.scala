package graft.glove

import graft.SparkFixture
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

/** Quality gates for the block-partitioned (large-V) trainer — same
  * §5.3 contract as the broadcast path: loss decreases, finite, seeded
  * reproducibility, co-occurrence structure becomes neighborhood
  * structure. Float equality with the broadcast path is explicitly NOT
  * claimed (different update schedule, SURVEY §7.3.1).
  */
class GloveBlockSpec extends AnyFunSuite with SparkFixture {

  private lazy val corpus = {
    val rng = new scala.util.Random(11L)
    val docs = (0 until 120).map { i =>
      val pair = if (i % 2 == 0) Seq("aa", "bb") else Seq("xx", "yy")
      val toks = (0 until 10).flatMap(_ => rng.shuffle(pair))
      (i.toLong, toks.mkString(" "))
    }
    spark.createDataFrame(docs).toDF("doc_id", "text")
  }

  // a parameter budget of 0 sends even this 4-word vocabulary to the block trainer
  private def fit(iters: Int, docs: DataFrame = corpus) =
    new Glove(dim = 8, window = 2, minCount = 1, iterations = iters,
      numPartitions = 4, seed = 42L).fit(docs, "text", 0L)

  test("block trainer: loss decreases, finite, and neighbors follow co-occurrence") {
    val m = fit(12)
    val l = m.lossHistory
    assert(l.nonEmpty && l.forall(x => !x.isNaN && !x.isInfinite))
    assert(l.last < l.head, s"loss did not decrease: ${l.head} -> ${l.last}")
    assert(m.embeddings.count() == 4)
    val nn = m.findSynonyms("aa", 1).collect()(0).getString(0)
    assert(nn == "bb", s"nearest neighbor of 'aa' was '$nn'")
  }

  test("block-path model answers queries without re-reading the corpus") {
    // A row accumulator under the corpus counts every document row read.
    // The fitted embeddings must not lean on the released vocabulary:
    // a lazy vocab ⋈ vectors join would rebuild it on every query.
    val acc = spark.sparkContext.longAccumulator("blockDocRows")
    val counted = corpus.filter((_: Row) => { acc.add(1); true })
    val m = fit(2, counted)
    assert(acc.value > 0)
    acc.reset()
    m.findSynonyms("aa", 1).collect()
    assert(acc.value == 0, s"findSynonyms read ${acc.value} document rows")
  }

  test("block trainer: auto strategy picks broadcast for tiny vocab") {
    // default auto mode on a 4-word vocab must take the broadcast path
    // and still produce the same-shaped model
    val m = new Glove(dim = 8, window = 2, minCount = 1, iterations = 2,
      numPartitions = 4, seed = 42L).fit(corpus)
    assert(m.embeddings.columns.toSeq == Seq("word", "id", "vec"))
    assert(m.embeddings.count() == 4)
  }

  test("block trainer at V=100k: loss decreases, params never materialize on the driver") {
    // Past any broadcast cap: 100k vocab ids, ~300k synthetic
    // co-occurrence cells (each id co-occurs with 3 ring neighbors,
    // weight decaying in distance). The co-occurrence matrix is built
    // distributed (spark.range), trained 2 epochs at dim 8, and a
    // listener watches what actually flows back to the driver: with
    // localCheckpoint-truncated lineage the ONLY driver traffic is
    // counts and loss scalars, so cumulative task-result bytes must
    // stay far below the ~20 MB a parameter-side collect would ship.
    import spark.implicits._
    val v = 100000
    val listener = new org.apache.spark.scheduler.SparkListener {
      val resultBytes = new java.util.concurrent.atomic.AtomicLong(0L)
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) resultBytes.addAndGet(e.taskMetrics.resultSize)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val cooc = spark.range(v.toLong).as[Long].flatMap { i =>
        (1 to 3).map(d => graft.text.Cooc(i.toInt, ((i + d) % v).toInt, 1.0 / d))
      }
      val (emb, losses) =
        new GloveBlockTrainer(dim = 8, iterations = 2, numPartitions = 4,
          seed = 42L).train(cooc, v)
      assert(losses.size == 2 && losses.forall(x => !x.isNaN && !x.isInfinite))
      assert(losses(1) < losses(0), s"loss did not decrease: $losses")
      assert(emb.count() == v)
      Thread.sleep(500) // let straggler listener events drain
      val mb = listener.resultBytes.get() / 1e6
      assert(mb < 10.0,
        f"$mb%.1f MB of task results reached the driver — a parameter " +
          "collect would ship ~20+ MB; the block path must keep params distributed")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
