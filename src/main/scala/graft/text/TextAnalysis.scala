package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting. Everything
  * is a deterministic, codegen'd column expression (no UDFs), so all of
  * it is SQL-expressible for the DuckDB oracle and scales as a pure
  * projection — zero shuffles for per-document outputs.
  */
object TextAnalysis {

  /** #occurrences of substring `pat` in `c` via the length-delta trick
    * (portable across engines, stays in codegen).
    */
  def countOccurrences(c: Column, pat: String): Column =
    (length(c) - length(regexp_replace(c, java.util.regex.Pattern.quote(pat), ""))) / pat.length

  // ------------------------------------------------------- language ID

  /** Marker character-bigrams per language for the n-gram heuristic.
    * (Classic langid profiles are learned; this fixed profile is the
    * deterministic, oracle-friendly variant of the same mechanism.)
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("th", "he", "ing"),
    "de" -> Seq("ch", "ei", "sch"),
    "es" -> Seq("ll", "ción", "os "),
    "fr" -> Seq("ou", "eau", "les"),
    "zh" -> Seq("zh", "ng ", "sh"))

  /** Language guess by max marker-n-gram score; ties resolved by the
    * declaration order above (deterministic). Score = Σ occurrences of
    * that language's marker n-grams.
    */
  def langId(text: Column): Column = {
    val scores = langMarkers.map { case (lang, ms) =>
      (lang, ms.map(m => countOccurrences(text, m)).reduce(_ + _))
    }
    // greatest-score argmax with declaration-order tiebreak
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldLeft(lit(null).cast("string")) { case (acc, (lang, s)) =>
      when(acc.isNull && s === best, lit(lang)).otherwise(acc)
    }
  }

  // ---------------------------------------------------- quality scoring

  val stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

  /** Per-document quality features + a composite score in [0,1]:
    * token count, mean token length, stopword ratio, distinct-token
    * ratio, alnum-char ratio. The score formula is fixed and documented
    * so the oracle can replicate it exactly.
    */
  def qualityFeatures(df: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = filter(split(col(textCol), " "), t => t =!= "")
    val nTok = size(toks).cast("double")
    // Empty/token-less docs define every ratio as 0 and quality as 0
    // (not null, not a DIVIDE_BY_ZERO crash under ANSI mode) — they then
    // pass a minQuality=0 funnel and are cut by any positive threshold.
    def per(num: Column, den: Column): Column =
      when(den > 0, num / den).otherwise(lit(0.0))
    val stopRatio = per(
      size(filter(toks, t => t.isin(stopwords.map(lit): _*))).cast("double"), nTok)
    val distinctRatio = per(size(array_distinct(toks)).cast("double"), nTok)
    val meanTokLen = per(length(col(textCol)) - (nTok - 1), nTok)
    val alnumRatio = per(
      length(regexp_replace(col(textCol), "[^a-z0-9]", "")).cast("double"),
      length(col(textCol)).cast("double"))
    df.withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("mean_tok_len", round(meanTokLen, 4))
      .withColumn("stop_ratio", round(stopRatio, 4))
      .withColumn("distinct_ratio", round(distinctRatio, 4))
      .withColumn("alnum_ratio", round(alnumRatio, 4))
      .withColumn("quality",
        round(when(nTok > 0,
          least(lit(1.0), nTok / 100.0) * 0.4
            + distinctRatio * 0.3
            + (lit(1.0) - stopRatio) * 0.2
            + alnumRatio * 0.1).otherwise(lit(0.0)), 4))
  }

  // ------------------------------------------------------ token counting

  /** BPE-ish subword pattern: letter runs, digit runs, other non-space
    * singletons — a portable approximation of byte-pair tokenizer unit
    * counts, usable for budget accounting.
    */
  val bpeishPattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"

  /** (whitespace token count, BPE-ish unit count, char count). */
  def tokenCounts(df: DataFrame, textCol: String = "text"): DataFrame =
    df.withColumn("ws_tokens",
        size(filter(split(col(textCol), " "), t => t =!= "")).cast("long"))
      .withColumn("bpeish_tokens", regexp_count(col(textCol), lit(bpeishPattern)))
      .withColumn("n_chars_m", length(col(textCol)).cast("long"))

  // -------------------------------------------------------- fingerprints

  /** Order-insensitive content fingerprint: sha256 over the sorted
    * distinct token set. Equal fingerprints ⇔ same token set — catches
    * shuffled/reordered duplicates that exact hashing misses.
    */
  def tokenSetFingerprint(text: Column): Column =
    sha2(concat_ws(" ", sort_array(array_distinct(
      filter(split(text, " "), t => t =!= "")))), 256)

  /** Unigram language-model scoring (the CCNet-style LM quality filter,
    * reduced to order 1 so it is exactly SQL-reproducible): per document,
    * the mean negative log-likelihood of its tokens under the corpus'
    * own unigram distribution. Low score = typical text, high = rare
    * tokens / noise. Two shuffles total (corpus token count, per-doc
    * mean); the token→count join broadcasts while the vocabulary is
    * small and falls back to a shuffled join beyond — both fine at scale
    * because the count table is tiny relative to the corpus.
    */
  def unigramLogScore(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val toks = df
      .select(col(idCol), explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
    val counts = toks.groupBy("w").agg(count(lit(1)).as("c"))
    val total = counts.agg(sum("c").as("n"))
    toks.join(counts, "w").crossJoin(broadcast(total))
      .groupBy(idCol)
      .agg(avg(-log(col("c").cast("double") / col("n"))).as("lm_score"))
  }

  /** Adjacent-token bigram array of a text column, built with zero
    * shuffles: pair token i with token i+1 by zipping the clean token
    * list against its own tail (`zip_with` pads the shorter side with
    * null — those mark the final position and are dropped). This narrow
    * form replaces the posexplode + per-doc window formulation, which
    * would shuffle every token by doc_id just to pair neighbors.
    */
  def bigrams(text: Column): Column = {
    val l = filter(split(text, " "), t => t =!= "")
    filter(
      zip_with(l, slice(l, lit(2), greatest(lit(0), size(l) - 1)),
        (a, b) => when(b.isNull, lit(null)).otherwise(concat(a, lit(" "), b))),
      x => x.isNotNull)
  }

  /** Corpus bigram counts (for n-gram stats / the bigram LM): one narrow
    * bigram projection + one count shuffle.
    */
  def bigramCounts(df: DataFrame, textCol: String = "text"): DataFrame =
    df.select(explode(bigrams(col(textCol))).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("cnt"))

  /** PMI/NPMI collocation extraction (E-70) — the classic corpus-
    * linguistics measure of "these two tokens form a unit":
    *
    *   PMI(a,b)  = log₂( p(ab) ∕ (p(a)·p(b)) )
    *   NPMI(a,b) = PMI ∕ (−log₂ p(ab))        ∈ [−1, 1]
    *
    * with p(a) over token occurrences and p(ab) over adjacent-bigram
    * slots. NPMI's normalization removes PMI's low-frequency bias, and
    * `minCount` removes the noise floor below which the estimates are
    * meaningless (Bouma 2009's standard practice).
    *
    * Scale shape: unigram and bigram tables are one count-shuffle each
    * off the same narrow projection; the unigram side is vocabulary-
    * sized, so both probability joins BROADCAST, and the corpus totals
    * are global windows over the already-aggregated (vocab-sized)
    * frames — nothing touches corpus-sized data twice.
    *
    * @return (t1, t2, n_ab, n_a, n_b, pmi, npmi), unrounded
    */
  def collocations(df: DataFrame, minCount: Long = 5,
      textCol: String = "text"): DataFrame = {
    val wAll = Window.partitionBy()
    val uni = df
      .select(explode(filter(split(col(textCol), " "), x => x =!= "")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .withColumn("tot", sum("n").over(wAll))
    val bg = df.select(explode(bigrams(col(textCol))).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("n_ab"))
      // total bigram slots BEFORE the minCount filter — p(ab) is a
      // probability over all slots, not the surviving ones
      .withColumn("btot", sum("n_ab").over(wAll))
      .withColumn("t1", split(col("bg"), " ").getItem(0))
      .withColumn("t2", split(col("bg"), " ").getItem(1))
    val u1 = broadcast(uni.select(col("tok").as("t1"), col("n").as("n_a"),
      col("tot")))
    val u2 = broadcast(uni.select(col("tok").as("t2"), col("n").as("n_b")))
    bg.filter(col("n_ab") >= minCount)
      .join(u1, "t1").join(u2, "t2")
      .withColumn("p_ab", col("n_ab") / col("btot"))
      .withColumn("pmi", log2(col("p_ab")
        / ((col("n_a") / col("tot")) * (col("n_b") / col("tot")))))
      .withColumn("npmi", col("pmi") / -log2(col("p_ab")))
      .select("t1", "t2", "n_ab", "n_a", "n_b", "pmi", "npmi")
  }

  /** Positional phrase search (E-73): documents containing the exact
    * token sequence `phrase`, with the number of occurrences. The
    * inverted-index formulation: per-term postings of (doc, position),
    * pruned to the query's terms FIRST (the isin filter reaches the
    * scan), then intersected by equi-join on (doc, startPos) — term i
    * must appear at startPos + i. k−1 keyed joins for a k-term phrase,
    * each on the (doc, pos) composite key; postings of query terms are
    * a vanishing fraction of the corpus, so the joins are small however
    * large the corpus is.
    *
    * Scale note: for a ONE-SHOT query a plain substring scan is cheaper
    * (one codegen pass, no shuffle) and remains the right tool when the
    * corpus is scanned anyway. The postings formulation is what you want when the
    * (doc, pos) postings are MATERIALIZED once and reused across many
    * queries (the inverted-index regime), when terms must match at
    * token granularity (a substring scan false-positives across token
    * boundaries and misses text-edge occurrences), or when the phrase
    * operators compose (AND/near/slop).
    *
    * @return (idCol, n_hits) for matching documents only
    */
  def phraseSearch(df: DataFrame, phrase: Seq[String],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one term")
    val toks = df
      .select(col(idCol),
        posexplode(filter(split(col(textCol), " "), x => x =!= ""))
          .as(Seq("pos", "tok")))
      .filter(col("tok").isin(phrase: _*))
    val first = toks.filter(col("tok") === phrase.head)
      .select(col(idCol), col("pos"))
    val matched = phrase.zipWithIndex.drop(1).foldLeft(first) {
      case (acc, (term, i)) =>
        val p = toks.filter(col("tok") === term)
          .select(col(idCol).as("__pid"), (col("pos") - i).as("__pstart"))
        acc.join(p,
            acc(idCol) === col("__pid") && acc("pos") === col("__pstart"))
          .select(acc(idCol), acc("pos"))
    }
    matched.groupBy(idCol).agg(count(lit(1)).as("n_hits"))
  }

  /** Gopher-style repetition signals (E-48) — the classic quality-filter
    * features for LLM training data (Rae et al. 2021 §A1.1): per
    * document, the fraction of 3-gram occurrences whose 3-gram repeats
    * within the document (`dup3_frac`), and the share of the single most
    * frequent bigram among all bigram occurrences (`top2_frac`).
    * Machine-generated / boilerplate text scores high on both.
    *
    * Fully relational and scale-safe for arbitrarily long documents:
    * n-gram expansion is the zero-shuffle [[Decontamination.ngrams]] /
    * [[bigrams]] projection, then two (doc, gram)-keyed count aggregates
    * — never an O(L²) per-row loop. Both feature tables are doc-keyed
    * aggregates of the same explode, so the final join co-partitions.
    */
  def repetitionSignals(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val g3 = df
      .select(col(idCol), explode(Decontamination.ngrams(col(textCol), 3)).as("g"))
      .groupBy(idCol, "g").agg(count(lit(1)).as("c"))
      .groupBy(idCol)
      .agg(sum("c").as("n3"),
        sum(when(col("c") > 1, col("c")).otherwise(lit(0))).as("dup3"))
    val g2 = df
      .select(col(idCol), explode(bigrams(col(textCol))).as("g"))
      .groupBy(idCol, "g").agg(count(lit(1)).as("c"))
      .groupBy(idCol)
      .agg(sum("c").as("n2"), max("c").as("top2"))
    g3.join(g2, idCol)
      .select(col(idCol), col("n3"), col("dup3"),
        round(col("dup3") / col("n3"), 4).as("dup3_frac"),
        col("n2"), col("top2"),
        round(col("top2") / col("n2"), 4).as("top2_frac"))
  }

  /** Word2vec-style frequent-token subsampling (T-14, Mikolov et al.
    * 2013 §2.3): a token occurrence is kept with probability
    * p(w) = min(1, √(t∕f) + t∕f), f = w's corpus frequency share —
    * aggressively thinning stopword-frequency tokens before
    * co-occurrence counting while leaving rare tokens intact (the
    * standard embedding-training preprocessing step). The coin is the
    * RNG-free [[graft.ops.Sampling.hashUniform]] over (id:pos), so the
    * draw is bit-reproducible across engines, reruns and
    * partitionings. The frequency table is vocabulary-sized
    * (broadcast); the corpus total is a 1-row broadcast.
    *
    * @return kept occurrences (idCol, pos, tok), pos 0-based
    */
  def subsampleFrequent(df: DataFrame, t: Double, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val toks = df.select(col(idCol),
      posexplode(filter(split(col(textCol), " "), x => x =!= ""))
        .as(Seq("pos", "tok")))
    val tot = toks.select(count(lit(1)).cast("double").as("n_tot"))
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    toks.join(broadcast(freq), "tok").crossJoin(broadcast(tot))
      .withColumn("f", col("c") / col("n_tot"))
      .withColumn("p_keep",
        least(lit(1.0), sqrt(lit(t) / col("f")) + lit(t) / col("f")))
      .filter(graft.ops.Sampling.hashUniform(
        concat(col(idCol), lit(":"), col("pos"))) < col("p_keep"))
      .select(col(idCol), col("pos"), col("tok"))
  }

  /** Per-document Shannon entropy of the token distribution (E-52), in
    * nats — the vocabulary-diversity quality signal complementing
    * [[repetitionSignals]]: template/boilerplate text scores low, rich
    * prose high. Computed as ln(n) − (Σ c·ln c)/n from one token
    * explode and two doc-keyed aggregates — the log identity keeps the
    * math a pure aggregate (no per-token division), so partial
    * aggregation stays map-side.
    */
  def tokenEntropy(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    df.select(col(idCol),
        explode(filter(split(col(textCol), " "), t => t =!= "")).as("tok"))
      .groupBy(idCol, "tok").agg(count(lit(1)).as("c"))
      .groupBy(idCol)
      .agg(sum("c").as("n_tok"),
        sum(col("c") * log(col("c"))).as("sclogc"))
      .select(col(idCol), col("n_tok"),
        round(log(col("n_tok")) - col("sclogc") / col("n_tok"), 4)
          .as("entropy"))

  /** Bigram language-model scoring — the order-2 upgrade of
    * [[unigramLogScore]]: per document, the mean negative conditional
    * log-likelihood −ln c(w1,w2)/c(w1·) of its adjacent token pairs
    * under the corpus' own bigram counts (c(w1·) = occurrences of w1 as
    * a bigram head, so probabilities per head sum to 1 exactly and the
    * math is SQL-reproducible with no smoothing constant). Documents
    * with < 2 tokens drop out (no bigrams). Shuffles: one bigram count,
    * a head count derived from it by re-aggregation (not a rescan), and
    * the per-doc mean — pairing itself is the zero-shuffle [[bigrams]]
    * projection. The count tables are vocabulary-sized — tiny next to
    * the corpus — so their joins broadcast at any realistic scale.
    */
  def bigramLogScore(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val docBigrams = df
      .select(col(idCol), explode(bigrams(col(textCol))).as("bg"))
    val c2 = docBigrams.groupBy("bg").agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy(split(col("bg"), " ").getItem(0).as("w1"))
      .agg(sum("c2").as("c1"))
    docBigrams.join(c2, "bg")
      .join(c1, split(col("bg"), " ").getItem(0) === col("w1"))
      .groupBy(idCol)
      .agg(avg(-log(col("c2").cast("double") / col("c1"))).as("lm2_score"))
  }

  // --------------------------------------------------------------- BM25

  /** BM25 relevance of each document for a fixed bag of query terms
    * (k1 = 1.2, b = 0.75, the standard Robertson parameters; idf is the
    * non-negative BM25+ form ln(1 + (N − df + ½)/(df + ½))). Everything
    * derives from one token explode: per-doc term frequencies, document
    * lengths, corpus size and document frequencies — then
    * score(d) = Σ_t idf(t) · tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)).
    * The per-term stats table has |query| rows, so its join broadcasts;
    * corpus-level scalars (N, avgdl) ride in on a one-row broadcast.
    * Only docs containing ≥1 query term surface (BM25 of the rest is 0).
    */
  def bm25(df: DataFrame, queryTerms: Seq[String], idCol: String = "doc_id",
      textCol: String = "text", k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val toks = df
      .select(col(idCol), explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
    val dl = toks.groupBy(idCol).agg(count(lit(1)).as("dl"))
    val corpus = dl.agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl"))
    val tf = toks.filter(col("w").isin(queryTerms: _*))
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    tf.join(broadcast(dfreq), "w")
      .join(dl, idCol)
      .crossJoin(broadcast(corpus))
      .withColumn("term_score", idf * (col("tf") * (k1 + 1)) /
        (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(idCol)
      .agg(sum("term_score").as("bm25"))
  }

  /** PII / boilerplate scrubbing for training corpora: URLs, e-mail
    * addresses and digit runs are replaced with typed placeholder tokens.
    * Order matters — URLs first (they may contain digits and @), then
    * e-mails, then bare numbers. Pure codegen'd regexp_replace chain: no
    * UDF, no shuffle, and the patterns stay in the RE2 ∩ java.util.regex
    * common dialect so any engine reproduces them.
    */
  def scrub(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, "https?://\\S+", "<URL>"),
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "<EMAIL>"),
      "[0-9]+", "<NUM>")

  /** Accent fold map for [[normalize]] — Latin-1 letters to their ASCII
    * base; both strings must stay equal-length (translate is 1:1).
    */
  val accentFrom = "àáâãäåèéêëìíîïòóôõöùúûüçñýÿ"
  val accentTo   = "aaaaaaeeeeiiiiooooouuuucnyy"

  /** Canonical text normalization for dedup/matching pre-processing:
    * casefold → accent fold (translate, 1:1) → strip non-alnum →
    * collapse runs of whitespace → trim. A pure codegen'd expression
    * chain in the RE2 ∩ java.util.regex common dialect, so any engine
    * reproduces it character-for-character — normalize(a) == normalize(b)
    * is then a portable match key.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        translate(lower(text), accentFrom, accentTo),
        "[^a-z0-9 ]", " "),
      " +", " "))

  /** Polynomial rolling hash of the token sequence (order-sensitive) —
    * the classic Rabin-Karp document fingerprint, computed as a fold
    * over the token array (codegen'd `aggregate`, no UDF). Arithmetic is
    * mod 2^31−1 so it never overflows Spark 4's ANSI Long math.
    */
  def rollingHash(text: Column): Column = {
    val p = lit(2147483647L) // Mersenne prime 2^31-1
    aggregate(
      filter(split(text, " "), t => t =!= ""),
      lit(0L),
      (acc, t) => pmod(acc * lit(31L) + pmod(xxhash64(t), p), p))
  }
}
