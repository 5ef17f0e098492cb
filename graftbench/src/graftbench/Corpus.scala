package graftbench

import java.util.SplittableRandom

/** Seeded synthetic corpora. Word ranks follow Zipf(s = 1) and every
  * word is spelled in letters only, so `TextAnalysis.scrub` (which
  * rewrites digit runs) leaves the corpus untouched.
  */
object Corpus {

  /** Bijective base-26 spelling of a 0-based rank: 0 → "a", 25 → "z",
    * 26 → "aa", … — distinct ranks never share a spelling.
    */
  def spell(rank: Int): String = {
    val sb = new StringBuilder
    var r = rank + 1
    while (r > 0) {
      r -= 1
      sb.append(('a' + r % 26).toChar)
      r /= 26
    }
    sb.reverse.toString
  }

  /** Inverse-CDF sampler for Zipf(s = 1) over ranks 0 until `v`. */
  final class Zipf(v: Int) {
    private val cdf: Array[Double] = {
      val c = new Array[Double](v)
      var acc = 0.0
      var k = 0
      while (k < v) { acc += 1.0 / (k + 1); c(k) = acc; k += 1 }
      k = 0
      while (k < v) { c(k) /= acc; k += 1 }
      c
    }
    def sample(rng: SplittableRandom): Int = {
      val u = rng.nextDouble()
      var lo = 0; var hi = v - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  /** `nDocs` documents of `minLen`..`maxLen` Zipf-drawn words, ids 0 until nDocs. */
  def documents(seed: Long, nDocs: Int, vocab: Int, minLen: Int, maxLen: Int): Array[String] = {
    val rng = new SplittableRandom(seed)
    val zipf = new Zipf(vocab)
    val words = Array.tabulate(vocab)(spell)
    Array.fill(nDocs) {
      val n = minLen + rng.nextInt(maxLen - minLen + 1)
      Array.fill(n)(words(zipf.sample(rng))).mkString(" ")
    }
  }

  /** The token appended to a planted near copy. Appending any one token
    * adds exactly one new 3-shingle, whether or not the word also occurs
    * in the corpus.
    */
  val NearDupToken = "zzzzzz"

  /** The document a planted copy was made from: id − 5 for an exact
    * copy (id % 20 == 13), id − 3 for a near copy (id % 20 == 7), the
    * document itself otherwise.
    */
  def baseOf(id: Long): Long = (id % 20) match {
    case 13 => id - 5
    case 7 => id - 3
    case _ => id
  }

  /** Documents with planted duplicates: id % 20 == 13 is an exact copy
    * of id − 5, id % 20 == 7 is id − 3 plus [[NearDupToken]] (3-shingle
    * Jaccard (L−2)/(L−1) ≥ 0.5 with its base for L ≥ 3 tokens).
    */
  def withPlantedDuplicates(base: Array[String]): Array[String] =
    Array.tabulate(base.length) { i =>
      (i % 20) match {
        case 13 => base(i - 5)
        case 7 => base(i - 3) + " " + NearDupToken
        case _ => base(i)
      }
    }

  /** Closed-form funnel for [[withPlantedDuplicates]] over n documents:
    * (input, after exact dedup, after near dedup).
    */
  def expectedFunnel(n: Long): (Long, Long, Long) = {
    def count(residue: Int): Long = if (n <= residue) 0L else (n - 1 - residue) / 20 + 1
    val exact = n - count(13)
    (n, exact, exact - count(7))
  }
}
