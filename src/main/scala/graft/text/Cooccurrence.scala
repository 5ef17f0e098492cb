package graft.text

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** One (i,j) cell of the sparse co-occurrence matrix (GloVe stage 2). */
case class Cooc(i: Int, j: Int, x: Double)

/** GloVe stage 2: windowed co-occurrence (SURVEY T-4; canonical `cooccur`).
  *
  * Semantics: for tokens at positions p, q in the same document with
  * 0 < |p-q| <= window, X(w_p, w_q) += 1/|p-q| — symmetric window,
  * harmonic distance weighting (GloVe paper §4.2).
  *
  * Production kernel: a single typed `flatMap` pass per document emitting
  * both directions of each pair — O(n·window) work, NO self-join, and the
  * downstream `groupBy` gets map-side partial aggregation for free. This
  * is the 100 TB path: shuffle volume is the number of DISTINCT pairs per
  * partition, not the number of pair instances. The band-self-join
  * formulation (ContractQueries.b9Join) is kept as the oracle and the two
  * are property-tested equal.
  */
object Cooccurrence {

  /** Raw pair instances (w1, w2, wt=1/d) — one row per co-occurrence, both
    * directions. Matches the B9 oracle exactly (no empty-token filter:
    * `split` semantics are preserved end-to-end).
    *
    * `symmetric = false` selects the canonical toolkit's asymmetric mode
    * (`--symmetric 0`): only the LEFT context counts, i.e. each (focus,
    * context) pair is emitted once with the context word preceding the
    * focus word — exactly half the symmetric mass.
    */
  def wordPairs(documents: DataFrame, window: Int, textCol: String = "text",
      symmetric: Boolean = true): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents
      .select(split(col(textCol), " ").as("toks"))
      .as[Seq[String]]
      .flatMap { toks =>
        val n = toks.length
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Double)]
        var i = 0
        while (i < n) {
          var d = 1
          while (d <= window && i + d < n) {
            val wt = 1.0 / d
            out += ((toks(i + d), toks(i), wt)) // focus ← left context
            if (symmetric) out += ((toks(i), toks(i + d), wt))
            d += 1
          }
          i += 1
        }
        out
      }
      .toDF("w1", "w2", "wt")
  }

  /** O(n·w) forward-scan kernel over one document's kept-token stream.
    * `pos(k)` is the distance-defining position of kept token k — the
    * kept index itself (default mode, positions re-measured after OOV
    * removal) or the token's original pre-filter position (canonical
    * `cooccur` mode, where an OOV token still costs window distance).
    * `pos` is strictly increasing either way; pairs farther than
    * `window` apart get skipped, the rest weigh 1/distance. Emits
    * focus←context, plus the mirror when symmetric.
    */
  private def emitPairs(pos: Array[Int], ids: Array[Int], window: Int,
      symmetric: Boolean): Seq[Cooc] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Cooc]
    val n = ids.length
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n && pos(j) - pos(i) <= window) {
        val wt = 1.0 / (pos(j) - pos(i))
        out += Cooc(ids(j), ids(i), wt)
        if (symmetric) out += Cooc(ids(i), ids(j), wt)
        j += 1
      }
      i += 1
    }
    out.toSeq
  }

  /** Sums the pair instances of each (i, j) cell into one matrix entry. */
  private def sumCells(pairs: Dataset[Cooc]): Dataset[Cooc] = {
    val spark = pairs.sparkSession
    import spark.implicits._
    pairs
      .groupByKey(c => (c.i, c.j))
      .mapValues(_.x)
      .reduceGroups(_ + _)
      .map { case ((i, j), x) => Cooc(i, j, x) }
  }

  /** Id-space matrix with a DISTRIBUTED vocabulary (the large-V path):
    * tokens join the vocab DataFrame (broadcast by Spark when small,
    * shuffled when not — never collected to the driver), per-document
    * (position, id) sequences are rebuilt in original order with OOV
    * removed, then the same O(n·w) kernel runs over the arrays. Output
    * ≡ [[matrix]] for both distance modes (property-tested); use this
    * when the vocab Map would not fit the driver (V ≳ tens of millions).
    *
    * `distanceOverOriginalPositions = true` selects the canonical
    * toolkit's distance semantics: OOV tokens are dropped from the
    * output but still occupy their original positions, so a kept pair
    * straddling OOV tokens is farther apart (and may fall outside the
    * window). Default false = distances re-measured over kept tokens,
    * the common faithful-port variant.
    */
  def matrixViaJoin(
      documents: DataFrame,
      vocab: DataFrame, // columns: w (string), id0 (int, 0-based)
      window: Int,
      idCol: String = "doc_id",
      textCol: String = "text",
      symmetric: Boolean = true,
      distanceOverOriginalPositions: Boolean = false): Dataset[Cooc] = {
    val spark = documents.sparkSession
    import spark.implicits._
    val w = window
    val canonical = distanceOverOriginalPositions
    documents
      .select(col(idCol).as("did"), posexplode(split(col(textCol), " ")).as(Seq("pos", "w")))
      .join(vocab.select(col("w"), col("id0")), "w")
      .groupBy("did")
      .agg(array_sort(collect_list(struct(col("pos"), col("id0")))).as("pid"))
      .select("pid")
      .as[Seq[(Int, Int)]]
      .flatMap { pid =>
        val n = pid.length
        val pos = new Array[Int](n); val ids = new Array[Int](n)
        var k = 0
        pid.foreach { case (p, id0) =>
          pos(k) = if (canonical) p else k
          ids(k) = id0
          k += 1
        }
        emitPairs(pos, ids, w, symmetric)
      }
      .transform(sumCells)
  }

  /** Id-space sparse matrix for training (broadcast-vocabulary path):
    * tokens outside `vocab` are dropped, ids come from the broadcast
    * word → 0-based-id map. Distance semantics as in [[matrixViaJoin]]:
    * re-measured over kept tokens by default, canonical original-position
    * distances behind `distanceOverOriginalPositions`.
    */
  def matrix(
      documents: DataFrame,
      vocab: Map[String, Int],
      window: Int,
      textCol: String = "text",
      symmetric: Boolean = true,
      distanceOverOriginalPositions: Boolean = false): Dataset[Cooc] = {
    val spark = documents.sparkSession
    import spark.implicits._
    val bVocab = spark.sparkContext.broadcast(vocab)
    val canonical = distanceOverOriginalPositions
    documents
      .select(split(col(textCol), " ").as("toks"))
      .as[Seq[String]]
      .flatMap { toks =>
        val v = bVocab.value
        val posBuf = scala.collection.mutable.ArrayBuffer.empty[Int]
        val idsBuf = scala.collection.mutable.ArrayBuffer.empty[Int]
        var p = 0
        toks.foreach { t =>
          v.get(t) match {
            case Some(id) =>
              posBuf += (if (canonical) p else idsBuf.length)
              idsBuf += id
            case None => ()
          }
          p += 1
        }
        emitPairs(posBuf.toArray, idsBuf.toArray, window, symmetric)
      }
      .transform(sumCells)
  }
}
