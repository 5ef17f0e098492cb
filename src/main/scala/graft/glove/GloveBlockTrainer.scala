package graft.glove

import graft.text.Cooc
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** One side's parameter block: embedding row + bias + AdaGrad
  * accumulators for one vocab id.
  */
case class BParam(id: Int, w: Array[Double], b: Double,
    gw: Array[Double], gb: Double)

private[glove] case class BGrad(id: Int, dw: Array[Double], db: Double,
    loss: Double, n: Long)

/** Large-vocabulary GloVe trainer (SURVEY §3 entry 3, step "at large V"):
  * parameters stay DISTRIBUTED as `Dataset[BParam]` blocks instead of
  * being broadcast, so vocabulary size is bounded by cluster memory,
  * not driver/executor heap (V=10M × dim=300 ≈ 50 GB of parameters —
  * impossible to broadcast, fine to partition).
  *
  * Each iteration is a pure DataFrame/Dataset job:
  *   cooc ⋈ mainParams(i) ⋈ ctxParams(j)  →  per-record gradients
  *   → groupByKey(id).reduce (element-wise)  →  batch-AdaGrad update.
  *
  * Two shuffles per iteration (the second join and the gradient
  * reduce); AQE balances skewed ids (hot head-words). This is
  * synchronous batch AdaGrad — a documented deviation from the
  * canonical toolkit's sequential/Hogwild updates (SURVEY §7.3.1): the
  * same [[GloveObjective]], updates applied once per mini-batch from
  * summed gradients. Loss telemetry and quality gates, not float
  * equality with the broadcast path, define correctness (§5.3).
  *
  * Determinism: parameter init is a pure function of (seed, id, k), so
  * runs are reproducible at any parallelism up to float reduction order
  * in the gradient sums.
  */
class GloveBlockTrainer(
    val dim: Int = 50,
    val xMax: Double = 100.0,
    val alpha: Double = 0.75,
    val learningRate: Double = 0.05,
    val iterations: Int = 25,
    val numPartitions: Int = 32,
    val seed: Long = 42L) extends Serializable {
  import GloveBlockTrainer.MiniBatches

  /** Deterministic per-id init in [-0.5,0.5]/dim, derived from
    * xxhash-style mixing of (seed, id, k) — no driver-side RNG state.
    */
  private def initParams(spark: SparkSession, v: Int, saltBase: Long): Dataset[BParam] = {
    import spark.implicits._
    val d = dim; val s = seed
    spark.range(v).map { idL =>
      val id = idL.toInt
      def mix(k: Long): Double = {
        var h = s ^ (saltBase + id.toLong * 1315423911L + k * 2654435761L)
        h ^= (h >>> 33); h *= 0xff51afd7ed558ccdL
        h ^= (h >>> 33); h *= 0xc4ceb9fe1a85ec53L
        h ^= (h >>> 33)
        ((h.toDouble / Long.MaxValue.toDouble) * 0.5) * (0.5 / d)
      }
      BParam(id, Array.tabulate(d)(k => mix(k)), 0.0,
        Array.fill(d)(1.0), 1.0)
    }.repartition(numPartitions, col("id"))
  }

  /** Train over the co-occurrence matrix; returns (embeddings W+W̃ as
    * (id, vec ARRAY<FLOAT>), loss history).
    */
  def train(cooc: Dataset[Cooc], v: Int): (DataFrame, Seq[Double]) = {
    val spark = cooc.sparkSession
    import spark.implicits._
    val d = dim; val xm = xMax; val al = alpha; val lr = learningRate

    // one cached shard per mini-batch (deterministic hash split)
    val shards: IndexedSeq[Dataset[Cooc]] = (0 until MiniBatches).map { b =>
      cooc.filter(pmod(xxhash64(col("i"), col("j")), lit(MiniBatches.toLong)) === b)
        .repartition(numPartitions, col("i"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    }
    val shardSizes = shards.map(_.count())
    val nnz = shardSizes.sum
    require(nnz > 0, "empty co-occurrence matrix")

    var main = initParams(spark, v, 0L).persist(StorageLevel.MEMORY_AND_DISK)
    var ctx = initParams(spark, v, 1L).persist(StorageLevel.MEMORY_AND_DISK)
    main.count(); ctx.count()
    val losses = scala.collection.mutable.ArrayBuffer.empty[Double]

    var it = 0
    while (it < iterations) {
      var epochLoss = 0.0
      for (shard <- shards) {
      // join the shard with both parameter sides, compute per-record grads
      val j1 = shard.joinWith(main, shard("i") === main("id"))
      val joined = j1.joinWith(ctx, j1("_1.j") === ctx("id"))
      val grads: Dataset[BGrad] = joined.flatMap { case ((c, pi), pj) =>
        val f = GloveObjective.weight(c.x, xm, al)
        var dot = pi.b + pj.b
        var k = 0
        while (k < d) { dot += pi.w(k) * pj.w(k); k += 1 }
        val diff = GloveObjective.residual(dot, c.x)
        val fdiff = GloveObjective.clippedGrad(f, diff)
        val loss = GloveObjective.loss(f, diff)
        val dwi = new Array[Double](d); val dwj = new Array[Double](d)
        k = 0
        while (k < d) { dwi(k) = fdiff * pj.w(k); dwj(k) = fdiff * pi.w(k); k += 1 }
        // loss counted once (on the main side) to avoid double counting
        Iterator(BGrad(pi.id, dwi, fdiff, loss, 1L), BGrad(-pj.id - 1, dwj, fdiff, 0.0, 0L))
      }
      val reduced = grads.groupByKey(_.id).reduceGroups { (a, b) =>
        val dw = new Array[Double](d)
        var k = 0
        while (k < d) { dw(k) = a.dw(k) + b.dw(k); k += 1 }
        BGrad(a.id, dw, a.db + b.db, a.loss + b.loss, a.n + b.n)
      }.map(_._2).persist(StorageLevel.MEMORY_AND_DISK)

      epochLoss += reduced.map(g => g.loss).reduce(_ + _)

      def applyUpdates(params: Dataset[BParam], isMain: Boolean): Dataset[BParam] = {
        val side = reduced.filter(g => if (isMain) g.id >= 0 else g.id < 0)
          .map(g => if (g.id >= 0) g else BGrad(-g.id - 1, g.dw, g.db, g.loss, g.n))
          // a shard's gradients can fall under the broadcast threshold;
          // broadcasting them would collect them on the driver
          .hint("merge")
        params.joinWith(side, params("id") === side("id"), "left_outer")
          .map { case (p, g) =>
            if (g == null) p
            else {
              val w = p.w.clone(); val gw = p.gw.clone()
              var k = 0
              while (k < d) {
                gw(k) += g.dw(k) * g.dw(k)
                w(k) -= lr * g.dw(k) / math.sqrt(gw(k))
                k += 1
              }
              val gb = p.gb + g.db * g.db
              BParam(p.id, w, p.b - lr * g.db / math.sqrt(gb), gw, gb)
            }
          }
      }

      // localCheckpoint keeps the new blocks and truncates the growing
      // lineage (iteration count times two joins would otherwise blow up
      // planning time)
      val newMain = applyUpdates(main, isMain = true)
        .repartition(numPartitions, col("id"))
        .localCheckpoint(eager = true)
      val newCtx = applyUpdates(ctx, isMain = false)
        .repartition(numPartitions, col("id"))
        .localCheckpoint(eager = true)
      main.unpersist(); ctx.unpersist(); reduced.unpersist()
      main = newMain; ctx = newCtx
      }
      losses += epochLoss / nnz
      it += 1
    }

    val out = main.joinWith(ctx, main("id") === ctx("id"))
      .map { case (pm, pc) =>
        val vec = new Array[Float](d)
        var k = 0
        while (k < d) { vec(k) = (pm.w(k) + pc.w(k)).toFloat; k += 1 }
        (pm.id, vec)
      }.toDF("id", "vec")
    shards.foreach(_.unpersist())
    (out, losses.toSeq)
  }
}

object GloveBlockTrainer {
  /** Mini-batches per epoch: the co-occurrence matrix is hash-split into
    * this many shards and parameters update after each shard — four
    * gradient steps per epoch instead of one, closing most of the
    * convergence gap to per-example SGD while staying a pure
    * join-exchange pipeline.
    */
  private val MiniBatches = 4
}
