package graft.glove

import graft.text.{Cooc, Cooccurrence, Vocabulary}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** GloVe distributed trainer (SURVEY T-6; Pennington/Socher/Manning,
  * EMNLP 2014). Minimizes
  *
  *   J = Σ_{ij} f(X_ij) (wᵢᵀw̃ⱼ + bᵢ + b̃ⱼ − ln X_ij)²,
  *   f(x) = (x/xMax)^alpha for x < xMax else 1
  *
  * with AdaGrad, over the sparse co-occurrence matrix built by
  * [[graft.text.Cooccurrence]]. Defaults follow the canonical toolkit:
  * xMax=100, alpha=0.75, lr=0.05, output = W + W̃.
  *
  * Execution model (SURVEY §3 entry 3):
  *  - vocab + co-occurrence are ordinary Spark jobs (tokenize → count →
  *    bounded per-task combine → one shuffle into the trainer's
  *    layout), the matrix cached MEMORY_AND_DISK;
  *  - each training iteration broadcasts current parameters, computes
  *    per-partition AdaGrad updates locally (Hogwild-style local SGD over
  *    each partition's records), then `treeAggregate`s parameter deltas
  *    back to the driver where they are averaged and applied.
  *
  * Determinism: seeded init, fixed partitioning and sorted records per
  * partition make a run bit-reproducible for a fixed parallelism (SURVEY
  * §5.3 — quality gates, not hash gates: reduction order of floats is
  * parallelism-dependent by design).
  *
  * Trainer choice (the size rule): the broadcast loop ships
  * 2·V·(dim+1) parameters per iteration, so it runs while that stays
  * within [[Glove.MaxBroadcastParams]]; beyond it [[GloveBlockTrainer]]
  * keeps the parameters distributed (each iteration a join-exchange in
  * the DataFrame API) and the vocabulary never reaches the driver.
  */
class Glove(
    val dim: Int = 50,
    val window: Int = 5,
    val minCount: Long = 5,
    val xMax: Double = 100.0,
    val alpha: Double = 0.75,
    val learningRate: Double = 0.05,
    val iterations: Int = 25,
    val numPartitions: Int = 32,
    val seed: Long = 42L,
    /** Canonical `--symmetric` flag: false = left-context-only windows. */
    val symmetric: Boolean = true,
    /** Canonical `--max-vocab`: keep only the top-N ranked words. */
    val maxVocab: Option[Long] = None,
    /** Canonical distance semantics: OOV tokens still occupy window
      * distance (Cooccurrence.distanceOverOriginalPositions). Default
      * false = distances re-measured over kept tokens.
      */
    val distanceOverOriginalPositions: Boolean = false) extends Serializable {
  require(dim > 0, s"dim must be positive, got $dim")
  require(window > 0, s"window must be positive, got $window")
  require(iterations > 0, s"iterations must be positive, got $iterations")
  require(numPartitions > 0, s"numPartitions must be positive, got $numPartitions")
  require(xMax > 0, s"xMax must be positive, got $xMax")
  require(learningRate > 0, s"learningRate must be positive, got $learningRate")

  /** Hyperparameters persisted with the model (GloveModel.save/load). */
  private def trainParams: Map[String, String] = Map(
    "window" -> window.toString, "minCount" -> minCount.toString,
    "xMax" -> xMax.toString, "alpha" -> alpha.toString,
    "learningRate" -> learningRate.toString,
    "iterations" -> iterations.toString, "seed" -> seed.toString,
    "symmetric" -> symmetric.toString,
    "maxVocab" -> maxVocab.map(_.toString).getOrElse(""),
    "distanceOverOriginalPositions" -> distanceOverOriginalPositions.toString)

  def fit(documents: DataFrame, textCol: String = "text"): GloveModel =
    fit(documents, textCol, Glove.MaxBroadcastParams)

  /** [[fit]] with the broadcast parameter budget as an argument; 0 sends
    * any vocabulary to the block trainer.
    */
  private[graft] def fit(documents: DataFrame, textCol: String,
      maxBroadcastParams: Long): GloveModel = {
    // Stage 1: vocabulary (1-based ids by count desc, word asc), built
    // once: the size rule and either trainer read the cached frame.
    val vocab = Vocabulary.build(documents, minCount, textCol, maxVocab)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val v = vocab.count().toInt
      require(v > 0, s"empty vocabulary (minCount=$minCount)")
      val (embeddings, lossHistory) =
        if (2L * v * (dim + 1) > maxBroadcastParams) trainBlocks(documents, textCol, vocab, v)
        else trainBroadcast(documents, textCol, vocab)
      new GloveModel(embeddings, dim, lossHistory, trainParams)
    } finally vocab.unpersist()
  }

  /** Small V: broadcast vocabulary + co-occurrence kernel, then
    * broadcast parameters + per-partition AdaGrad ([[GloveTrainer]]).
    */
  private def trainBroadcast(documents: DataFrame, textCol: String,
      vocab: DataFrame): (DataFrame, Seq[Double]) = {
    val spark = documents.sparkSession
    import spark.implicits._
    val rows = vocab.select("w", "id").as[(String, Long)].collect()
    val words = new Array[String](rows.length)
    rows.foreach { case (w, id) => words(id.toInt - 1) = w }

    // Stage 2: co-occurrence matrix. Each task sums its pair instances
    // in a bounded map, and the partial cells are shuffled once, straight
    // into the layout local SGD reads: hash-partitioned by (i, j) into
    // numPartitions and sorted within partitions, so the update order is
    // reproducible. That one shuffle stands in for stage 3 of the
    // canonical toolkit (`shuffle`). The first iteration materialises it.
    val cooc: Dataset[Cooc] = Cooccurrence.matrix(documents, words.zipWithIndex.toMap,
        window, textCol, symmetric, distanceOverOriginalPositions, numPartitions)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Stage 4: broadcast + per-partition AdaGrad + delta merge.
    val (vecs, lossHistory) =
      try GloveTrainer.train(cooc, words.length, dim, xMax, alpha, learningRate, iterations, seed)
      finally cooc.unpersist()
    val out = words.indices.map(i => (words(i), i, vecs(i)))
    (spark.createDataFrame(out).toDF("word", "id", "vec"), lossHistory)
  }

  /** Large V: tokens map to ids by join ([[Cooccurrence.matrixViaJoin]])
    * and parameters stay distributed ([[GloveBlockTrainer]]).
    */
  private def trainBlocks(documents: DataFrame, textCol: String,
      vocab: DataFrame, v: Int): (DataFrame, Seq[Double]) = {
    val vocab0 = vocab.select(col("w"), (col("id") - 1).cast("int").as("id0"))
    val docsWithId = documents.withColumn("__gid", monotonically_increasing_id())
    val cooc: Dataset[Cooc] = Cooccurrence
      .matrixViaJoin(docsWithId, vocab0, window, "__gid", textCol, symmetric,
        distanceOverOriginalPositions)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (vecs, lossHistory) =
      try new GloveBlockTrainer(dim, xMax, alpha, learningRate, iterations, numPartitions,
        seed).train(cooc, v)
      finally cooc.unpersist()
    // Materialised while the vocabulary is still cached: left lazy, every
    // later query on the model would rebuild the vocabulary from the corpus.
    val embeddings = vocab0
      .join(vecs, vocab0("id0") === vecs("id"))
      .select(col("w").as("word"), col("id"), col("vec"))
      .localCheckpoint(eager = true)
    (embeddings, lossHistory)
  }
}

object Glove {
  /** The size rule: the broadcast trainer runs while its 2·V·(dim+1)
    * per-iteration parameters stay within this many doubles (≈ 128 MB).
    */
  private[graft] val MaxBroadcastParams = 16_000_000L
}

/** The GloVe objective both trainers minimise, per co-occurrence cell. */
private[glove] object GloveObjective {
  /** Weighting f(x) = (x/xMax)^alpha, capped at 1. */
  final def weight(x: Double, xMax: Double, alpha: Double): Double =
    if (x < xMax) math.pow(x / xMax, alpha) else 1.0

  /** Residual of the score wᵢᵀw̃ⱼ + bᵢ + b̃ⱼ against the ln X target. */
  final def residual(score: Double, x: Double): Double = score - math.log(x)

  /** The cell's loss term ½·f·diff². */
  final def loss(f: Double, diff: Double): Double = 0.5 * (f * diff) * diff

  /** Gradient scale f·diff clipped to ±100, as in the canonical toolkit,
    * to keep early iterations stable.
    */
  final def clippedGrad(f: Double, diff: Double): Double = {
    val g = f * diff
    if (g > 100.0) 100.0 else if (g < -100.0) -100.0 else g
  }
}

private[glove] object GloveTrainer {

  /** Broadcast + per-partition local AdaGrad + treeAggregate of deltas.
    * Returns the output vectors W + W̃ (GloVe §4.2) by id, and the loss
    * history.
    */
  def train(
      cooc: Dataset[Cooc], v: Int, dim: Int,
      xMax: Double, alpha: Double, lr: Double,
      iterations: Int, seed: Long): (Array[Array[Float]], Seq[Double]) = {

    val sc = cooc.sparkSession.sparkContext
    val rng = new java.util.Random(seed)
    val scale = 0.5 / dim
    def init(n: Int): Array[Double] = Array.fill(n)((rng.nextDouble() - 0.5) * scale)

    var wMain = init(v * dim); var wCtx = init(v * dim)
    var bMain = new Array[Double](v); var bCtx = new Array[Double](v)
    // AdaGrad squared-gradient accumulators (init 1.0, as in the canonical
    // toolkit, so the first step size is exactly lr).
    var gwMain = Array.fill(v * dim)(1.0); var gwCtx = Array.fill(v * dim)(1.0)
    var gbMain = Array.fill(v)(1.0); var gbCtx = Array.fill(v)(1.0)

    val losses = scala.collection.mutable.ArrayBuffer.empty[Double]
    val coocRdd = cooc.rdd // cached parent; rdd reuse is cheap
    // An empty matrix shows as no partition at all (AQE drops an empty
    // shuffle) or, below, as a first iteration that trains no record.
    require(coocRdd.getNumPartitions > 0, "empty co-occurrence matrix")

    var it = 0
    while (it < iterations) {
      val bW = sc.broadcast((wMain, wCtx, bMain, bCtx, gwMain, gwCtx, gbMain, gbCtx))
      // Each partition: copy params, run sequential AdaGrad over its
      // records, emit (delta, weight=#records, loss).
      val agg = coocRdd.mapPartitions { iter =>
        val (w1, w2, b1, b2, g1, g2, gb1, gb2) = bW.value
        val lw1 = w1.clone(); val lw2 = w2.clone()
        val lb1 = b1.clone(); val lb2 = b2.clone()
        val lg1 = g1.clone(); val lg2 = g2.clone()
        val lgb1 = gb1.clone(); val lgb2 = gb2.clone()
        var n = 0L; var loss = 0.0
        iter.foreach { c =>
          val i = c.i; val j = c.j
          val f = GloveObjective.weight(c.x, xMax, alpha)
          var dotv = lb1(i) + lb2(j)
          var k = 0
          val oi = i * dim; val oj = j * dim
          while (k < dim) { dotv += lw1(oi + k) * lw2(oj + k); k += 1 }
          val diff = GloveObjective.residual(dotv, c.x)
          loss += GloveObjective.loss(f, diff)
          // AdaGrad updates
          val g = GloveObjective.clippedGrad(f, diff)
          k = 0
          while (k < dim) {
            val gi = g * lw2(oj + k); val gj = g * lw1(oi + k)
            lg1(oi + k) += gi * gi; lg2(oj + k) += gj * gj
            lw1(oi + k) -= lr * gi / math.sqrt(lg1(oi + k))
            lw2(oj + k) -= lr * gj / math.sqrt(lg2(oj + k))
            k += 1
          }
          lgb1(i) += g * g; lgb2(j) += g * g
          lb1(i) -= lr * g / math.sqrt(lgb1(i))
          lb2(j) -= lr * g / math.sqrt(lgb2(j))
          n += 1L
        }
        // Delta vs broadcast state, packed in one array to aggregate once.
        val d = new Array[Double](2 * w1.length + 2 * b1.length +
          2 * g1.length + 2 * gb1.length)
        var p = 0
        def pack(local: Array[Double], base: Array[Double]): Unit = {
          var q = 0
          while (q < base.length) { d(p) = local(q) - base(q); p += 1; q += 1 }
        }
        pack(lw1, w1); pack(lw2, w2); pack(lb1, b1); pack(lb2, b2)
        pack(lg1, g1); pack(lg2, g2); pack(lgb1, gb1); pack(lgb2, gb2)
        Iterator.single((d, n, loss, if (n > 0) 1L else 0L))
      }.treeReduce { (a, b) =>
        val (da, na, la, pa) = a; val (db, nb, lb, pb) = b
        var q = 0
        while (q < da.length) { da(q) += db(q); q += 1 }
        (da, na + nb, la + lb, pa + pb)
      }
      bW.destroy()

      // Average deltas over the partitions that actually did work
      // (empty partitions contribute a zero delta and must not dilute).
      val (sumDelta, totalN, totalLoss, nonEmpty) = agg
      require(it > 0 || totalN > 0, "empty co-occurrence matrix")
      val inv = 1.0 / math.max(1L, nonEmpty)
      var p = 0
      def unpack(base: Array[Double]): Unit = {
        var q = 0
        while (q < base.length) { base(q) += sumDelta(p) * inv; p += 1; q += 1 }
      }
      unpack(wMain); unpack(wCtx); unpack(bMain); unpack(bCtx)
      unpack(gwMain); unpack(gwCtx); unpack(gbMain); unpack(gbCtx)
      losses += totalLoss / totalN
      it += 1
    }
    val vecs = Array.tabulate(v, dim)((i, k) => (wMain(i * dim + k) + wCtx(i * dim + k)).toFloat)
    (vecs, losses.toSeq)
  }
}
