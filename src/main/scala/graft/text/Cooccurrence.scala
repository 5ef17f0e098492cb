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
  * Kernel: each input partition scans its documents once (O(n·window)
  * pair instances, no self-join) and sums the instances in a primitive
  * open-addressing map keyed by the packed cell `(i << 32) | j`. The map
  * starts small, doubles as it fills and, like the canonical `cooccur`,
  * flushes its partial cells when it holds a fixed number of them, so a
  * task's memory is bounded whatever its input. The partial cells are
  * shuffled once, hash-partitioned by (i, j) and sorted by (i, j) within
  * each partition, and runs of equal cells are summed: the output is
  * already in the layout the broadcast trainer reads, so the trainer
  * does not shuffle it again. The band-self-join formulation
  * (ContractQueries.b9Join) is kept as the oracle and the two are
  * property-tested equal.
  */
object Cooccurrence {

  /** Partial cells one task's map holds before it flushes them; at this
    * bound the map's table is 2^20 slots (16 MB).
    */
  private val MaxMapCells = 1 << 19

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

  /** Id-space matrix with a DISTRIBUTED vocabulary (the large-V path):
    * tokens join the vocab DataFrame (broadcast by Spark when small,
    * shuffled when not — never collected to the driver), per-document
    * (position, id) sequences are rebuilt in original order with OOV
    * removed, then the same kernel as [[matrix]] runs over them. Output
    * ≡ [[matrix]] for both distance modes (property-tested); use this
    * when the vocab Map would not fit the driver (V ≳ tens of millions).
    * The cells come in `spark.sql.shuffle.partitions` partitions.
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
      distanceOverOriginalPositions: Boolean = false): Dataset[Cooc] =
    matrixViaJoin(documents, vocab, window, idCol, textCol, symmetric,
      distanceOverOriginalPositions, shufflePartitions(documents), MaxMapCells)

  /** [[matrixViaJoin]] with the output partition count and the map bound
    * as arguments.
    */
  private[text] def matrixViaJoin(documents: DataFrame, vocab: DataFrame, window: Int,
      idCol: String, textCol: String, symmetric: Boolean,
      distanceOverOriginalPositions: Boolean, numPartitions: Int,
      maxMapCells: Int): Dataset[Cooc] = {
    val spark = documents.sparkSession
    import spark.implicits._
    val canonical = distanceOverOriginalPositions
    val partials = documents
      .select(col(idCol).as("did"), posexplode(split(col(textCol), " ")).as(Seq("pos", "w")))
      .join(vocab.select(col("w"), col("id0")), "w")
      .groupBy("did")
      .agg(array_sort(collect_list(struct(col("pos"), col("id0")))).as("pid"))
      .select("pid")
      .as[Seq[(Int, Int)]]
      .mapPartitions { docs =>
        val kept = docs.map { pid =>
          val pos = new Array[Int](pid.length); val ids = new Array[Int](pid.length)
          var k = 0
          pid.foreach { case (p, id0) =>
            pos(k) = if (canonical) p else k
            ids(k) = id0
            k += 1
          }
          (pos, ids)
        }
        new PartialCells(kept, window, symmetric, maxMapCells)
      }
    sumCells(partials, numPartitions)
  }

  /** Id-space sparse matrix for training (broadcast-vocabulary path):
    * tokens outside `vocab` are dropped, ids come from the broadcast
    * word → 0-based-id map. Distance semantics as in [[matrixViaJoin]]:
    * re-measured over kept tokens by default, canonical original-position
    * distances behind `distanceOverOriginalPositions`. The cells come in
    * `spark.sql.shuffle.partitions` partitions.
    */
  def matrix(
      documents: DataFrame,
      vocab: Map[String, Int],
      window: Int,
      textCol: String = "text",
      symmetric: Boolean = true,
      distanceOverOriginalPositions: Boolean = false): Dataset[Cooc] =
    matrix(documents, vocab, window, textCol, symmetric, distanceOverOriginalPositions,
      shufflePartitions(documents))

  /** [[matrix]] in `numPartitions` partitions: cell (i, j) lies in
    * partition pmod(hash(i, j), numPartitions), sorted by (i, j) — the
    * layout the broadcast trainer reads.
    */
  private[graft] def matrix(documents: DataFrame, vocab: Map[String, Int], window: Int,
      textCol: String, symmetric: Boolean, distanceOverOriginalPositions: Boolean,
      numPartitions: Int): Dataset[Cooc] =
    matrix(documents, vocab, window, textCol, symmetric, distanceOverOriginalPositions,
      numPartitions, MaxMapCells)

  /** [[matrix]] with the map bound as an argument. */
  private[text] def matrix(documents: DataFrame, vocab: Map[String, Int], window: Int,
      textCol: String, symmetric: Boolean, distanceOverOriginalPositions: Boolean,
      numPartitions: Int, maxMapCells: Int): Dataset[Cooc] = {
    val spark = documents.sparkSession
    import spark.implicits._
    val bVocab = spark.sparkContext.broadcast(vocab)
    val canonical = distanceOverOriginalPositions
    val partials = documents
      .select(split(col(textCol), " ").as("toks"))
      .as[Seq[String]]
      .mapPartitions { docs =>
        val v = bVocab.value
        val kept = docs.map { toks =>
          val pos = new Array[Int](toks.length); val ids = new Array[Int](toks.length)
          var n = 0; var p = 0
          toks.foreach { t =>
            val id = v.getOrElse(t, -1)
            if (id >= 0) {
              pos(n) = if (canonical) p else n
              ids(n) = id
              n += 1
            }
            p += 1
          }
          (java.util.Arrays.copyOf(pos, n), java.util.Arrays.copyOf(ids, n))
        }
        new PartialCells(kept, window, symmetric, maxMapCells)
      }
    sumCells(partials, numPartitions)
  }

  private def shufflePartitions(documents: DataFrame): Int =
    documents.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt

  /** The one shuffle: partial cells go to partition pmod(hash(i, j), n)
    * — an explicit count, so AQE does not coalesce it — and are sorted
    * there by the packed key `(i << 32) | j`, which orders as (i, j) and,
    * being one long, lets Spark radix-sort it; runs of equal cells are
    * summed.
    */
  private def sumCells(partials: Dataset[Cooc], numPartitions: Int): Dataset[Cooc] = {
    val spark = partials.sparkSession
    import spark.implicits._
    partials
      .repartition(numPartitions, col("i"), col("j"))
      .sortWithinPartitions(shiftLeft(col("i").cast("long"), 32).bitwiseOR(col("j").cast("long")))
      .mapPartitions { sorted =>
        val in = sorted.buffered
        new Iterator[Cooc] {
          def hasNext: Boolean = in.hasNext
          def next(): Cooc = {
            val c = in.next()
            var x = c.x
            while (in.hasNext && in.head.i == c.i && in.head.j == c.j) x += in.next().x
            Cooc(c.i, c.j, x)
          }
        }
      }
  }
}

/** One task's partial cells. Scans each document's kept tokens — `pos(k)`
  * is the distance-defining position of kept token k, strictly
  * increasing; `ids(k)` its 0-based id — and adds, for every pair at
  * most `window` apart, focus←context weighted 1/distance, plus the
  * mirror when symmetric. When the map has no room for one more pair it
  * stops, hands out its cells (emptying itself) and then resumes the
  * scan where it stopped.
  */
private final class PartialCells(docs: Iterator[(Array[Int], Array[Int])], window: Int,
    symmetric: Boolean, maxCells: Int) extends Iterator[Cooc] {
  require(maxCells >= 2, s"maxCells must hold a pair and its mirror, got $maxCells")
  private val cells = new CellMap(maxCells)
  private var pos = Array.emptyIntArray
  private var ids = Array.emptyIntArray
  private var a = 0 // left token of the current pair (the context)
  private var b = 1 // right token (the focus), a < b
  private var out: Iterator[Cooc] = Iterator.empty

  def hasNext: Boolean = out.hasNext || { fill(); out.hasNext }

  def next(): Cooc = if (hasNext) out.next() else Iterator.empty.next()

  private def fill(): Unit = {
    while (cells.used + 2 <= maxCells && (a < ids.length || nextDoc())) {
      if (b < ids.length && pos(b) - pos(a) <= window) {
        val wt = 1.0 / (pos(b) - pos(a))
        cells.add(ids(b), ids(a), wt) // focus ← left context
        if (symmetric) cells.add(ids(a), ids(b), wt)
        b += 1
      } else {
        a += 1; b = a + 1
      }
    }
    out = cells.drain()
  }

  private def nextDoc(): Boolean = docs.hasNext && {
    val (p, i) = docs.next()
    pos = p; ids = i; a = 0; b = 1
    true
  }
}

/** Open-addressing map from a packed cell key `(i << 32) | j` (ids are
  * non-negative, so -1 marks an empty slot) to its summed weight, with
  * linear probing. It starts at 4,096 slots and doubles while more than
  * half full; holding at most `maxCells` cells, it never grows past the
  * first power of two ≥ 2·maxCells.
  */
private final class CellMap(maxCells: Int) {
  private val maxSlots = Integer.highestOneBit(2 * maxCells - 1) << 1
  private var keys = emptyKeys(math.min(4096, maxSlots))
  private var vals = new Array[Double](keys.length)
  var used = 0 // cells held

  private def emptyKeys(n: Int): Array[Long] = {
    val k = new Array[Long](n)
    java.util.Arrays.fill(k, -1L)
    k
  }

  private def slot(key: Long, mask: Int): Int = {
    val h = key * 0x9E3779B97F4A7C15L
    (h ^ (h >>> 32)).toInt & mask
  }

  def add(i: Int, j: Int, x: Double): Unit = {
    val key = (i.toLong << 32) | (j & 0xffffffffL)
    val mask = keys.length - 1
    var s = slot(key, mask)
    while (keys(s) != -1L && keys(s) != key) s = (s + 1) & mask
    if (keys(s) == key) vals(s) += x
    else {
      keys(s) = key; vals(s) = x; used += 1
      if (2 * used > keys.length) grow()
    }
  }

  private def grow(): Unit = {
    val (oldKeys, oldVals) = (keys, vals)
    keys = emptyKeys(2 * oldKeys.length)
    vals = new Array[Double](keys.length)
    val mask = keys.length - 1
    var q = 0
    while (q < oldKeys.length) {
      if (oldKeys(q) != -1L) {
        var s = slot(oldKeys(q), mask)
        while (keys(s) != -1L) s = (s + 1) & mask
        keys(s) = oldKeys(q); vals(s) = oldVals(q)
      }
      q += 1
    }
  }

  /** Hands out every cell, emptying each slot as it is read. No `add`
    * may come before the iterator is exhausted.
    */
  def drain(): Iterator[Cooc] = new Iterator[Cooc] {
    private var s = 0
    private def skip(): Unit = while (s < keys.length && keys(s) == -1L) s += 1
    def hasNext: Boolean = { skip(); s < keys.length }
    def next(): Cooc = {
      if (!hasNext) Iterator.empty.next()
      val k = keys(s)
      keys(s) = -1L; used -= 1
      val c = Cooc((k >>> 32).toInt, k.toInt, vals(s))
      s += 1
      c
    }
  }
}
