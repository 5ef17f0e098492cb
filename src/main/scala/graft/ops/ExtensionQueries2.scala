package graft.ops

import graft.Tables
import graft.text.{Decontamination, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-3 extension queries, batch 2: the remaining LLM-pipeline
  * first-class operators — eval-set decontamination, Gopher repetition
  * signals, SemDeDup cluster-scoped embedding dedup, domain-mixture
  * resampling — plus BFS hop labeling, completing the graph family.
  *
  * Every entry carries a DuckDB oracle; approximate machinery
  * (k-means clustering in ext_semdedup) is pinned the same way E-2
  * pins MinHash-LSH: parameters chosen so the scoped result provably
  * equals the exact global oracle on this corpus.
  */
object ExtensionQueries2 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  // ---- E-47 eval-set decontamination --------------------------------------
  // Eval corpus = every 53rd doc (10 docs at sf0.01); training docs
  // sharing any 4-gram with it are flagged with their distinct-hit
  // count. 4-grams: long enough that only genuine duplication collides
  // on this fixture (zero 8-gram hits outside near-dup pairs), short
  // enough to exercise multi-hit counting.
  def extDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Decontamination.contaminated(
        train = docs.filter(col("doc_id") % 53 =!= 0),
        evalDocs = docs.filter(col("doc_id") % 53 === 0),
        n = 4)
      .orderBy("doc_id")
  }

  // ---- E-48 Gopher repetition signals --------------------------------------
  def extRepetition(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionSignals(t(s, dir, "documents"))
      .orderBy("doc_id")
      .limit(100)

  // ---- E-49 SemDeDup: cluster-scoped embedding dedup -----------------------
  // Every 29th vector is planted back with a shifted id (exact copy —
  // the fixture's max non-identical cosine is ~0.51, far below
  // tau = 0.99), so the cluster-scoped production path must reproduce
  // the global all-pairs oracle exactly: identical vectors co-cluster
  // by construction and nothing else clears the threshold.
  def extSemdedup(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "embeddings").select("vec_id", "embedding")
    val planted = base.filter(col("vec_id") % 29 === 0)
      .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
    SemDedup.clusterScopedDupPairs(base.unionAll(planted),
        k = 8, iters = 2, tau = 0.99)
      .select(col("keeper"), col("dup_id"), round(col("cos"), 4).as("cos"))
      .orderBy("keeper")
  }

  // ---- E-50 domain-mixture resampling ---------------------------------------
  // Target mixture 3:1:1 over three sources, 40 docs total → quotas
  // 24/8/8 (each source holds 25 docs at sf0.01, so quotas fill).
  // Hash-ordered picks make the draw engine-portable; the oracle
  // replays the identical sha256 rank.
  def extMixture(s: SparkSession, dir: String): DataFrame =
    Mixture.resampleToMixture(t(s, dir, "documents"),
        domain = col("source"), key = col("doc_id"),
        weights = Map("src0" -> 3.0, "src1" -> 1.0, "src2" -> 1.0),
        total = 40)
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")

  // ---- E-51 BFS hop labeling -------------------------------------------------
  // Min-hop distances from supplier S1 over the bidirected
  // supplier–part co-purchase graph (the ext_pagerank graph), 3 rounds.
  // The oracle is a recursive CTE with UNION-distinct level expansion +
  // a min() fold. Hop parity alternates S/P sides (bipartite).
  def extBfs(s: SparkSession, dir: String): DataFrame = {
    // long-encoded node ids (SpIds): every BFS round shuffles longs; the
    // output aggregates read side/suffix off the encoding (parity ≡
    // startsWith("S"), shiftright ≡ substring(id, 2)) so no string is
    // ever built — values identical by construction
    val pairs = t(s, dir, "lineitem")
      .select(SpIds.s(col("l_suppkey")).as("sn"),
        SpIds.p(col("l_partkey")).as("pn"))
      .distinct()
    val edges = pairs.select(col("sn").as("src"), col("pn").as("dst"))
      .unionAll(pairs.select(col("pn").as("src"), col("sn").as("dst")))
    val sources = t(s, dir, "lineitem").select(lit(2L).as("id")).limit(1) // S1
    Bfs.hops(edges, sources, maxHops = 3)
      .groupBy(col("hops").cast("long").as("hops"))
      .agg(count(lit(1)).as("n"),
        sum(when(pmod(col("id"), lit(2)) === 0, 1L).otherwise(0L)).as("n_s"),
        sum(shiftright(col("id"), 1)).as("sum_sfx"))
      .orderBy("hops")
  }

  // ---- E-52 token-distribution entropy ---------------------------------------
  def extEntropy(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenEntropy(t(s, dir, "documents"))
      .orderBy("doc_id")
      .limit(100)

  // ---- E-53 k-anonymity suppression -------------------------------------------
  // Quasi-identifiers (nation, segment); k scales with the table
  // (max(2, rows/100)) so suppression bites at every SF — at sf0.01
  // that's k = 15 and 29 of 125 combinations survive. Output is the
  // surviving-group profile.
  def extKanon(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val k = math.max(2L, c.count() / 100)
    Privacy.kAnonymize(c, Seq("c_nationkey", "c_mktsegment"), k)
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("n"), round(sum("c_acctbal"), 2).as("bal"))
      .orderBy("c_nationkey", "c_mktsegment")
  }

  // ---- E-54 bounded-round k-core refinement ------------------------------------
  // 3 peels at k = 24 over the bidirected supplier–part graph; output
  // is the survivor trajectory (one row per round — always 4 rows, even
  // when the core empties, as at sf0.001 where round 1 keeps only the
  // 10 suppliers and round 2 none). At sf0.01 the trajectory converges
  // after round 1 (2100 → 1515 → 1515 → 1515): the bounded refinement
  // IS the true 24-core there. Oracle = the same rounds unrolled as
  // CTEs.
  def extKcore(s: SparkSession, dir: String): DataFrame = {
    // long-encoded node ids (SpIds) — the extBfs treatment: peel rounds
    // shuffle longs, the trajectory aggregates read side/suffix off the
    // encoding, no string is ever built
    val pairs = t(s, dir, "lineitem")
      .select(SpIds.s(col("l_suppkey")).as("sn"),
        SpIds.p(col("l_partkey")).as("pn"))
      .distinct()
    val edges = pairs.select(col("sn").as("src"), col("pn").as("dst"))
      .unionAll(pairs.select(col("pn").as("src"), col("sn").as("dst")))
    KCore.peelRounds(edges, k = 24, rounds = 3).zipWithIndex
      .map { case (nodes, r) =>
        nodes.agg(
          count(lit(1)).as("n"),
          sum(when(pmod(col("id"), lit(2)) === 0, 1L).otherwise(0L)).as("n_s"),
          sum(shiftright(col("id"), 1)).as("sum_sfx"))
          .select(lit(r.toLong).as("round"), col("n"), col("n_s"),
            col("sum_sfx"))
      }
      .reduce(_ unionAll _)
      .orderBy("round")
  }

  // ---- E-55 content-defined chunk dedup ----------------------------------------
  // CDC chunks (sha-content boundaries, shift-resistant — see
  // Chunking.contentDefinedChunks) hashed and counted corpus-wide;
  // per doc: how many of its chunks recur anywhere. The join runs on
  // the chunk sha, never the text.
  def extCdcChunk(s: SparkSession, dir: String): DataFrame = {
    val ch = graft.text.Chunking
      .contentDefinedChunks(t(s, dir, "documents"))
      .select(col("doc_id"), sha2(col("chunk"), 256).as("h"))
    val cnt = ch.groupBy("h").agg(count(lit(1)).as("n"))
    ch.join(cnt, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_shared"))
      .orderBy("doc_id")
      .limit(100)
  }

  // ---- E-56 sparse TF-IDF cosine pairs -----------------------------------------
  // TF-IDF all-pairs similarity via SparseCosine.autoPairs, which
  // MEASURES the post-cap vocabulary and picks the geometry: this
  // fixture's 31-token vocabulary is the inverted index's worst case
  // (every doc shares most tokens → candidates are all pairs and the
  // token join has only 31 keys, so its tasks are few and huge), so the
  // dense block-pair path is selected here — a Zipfian 100×
  // corpus flips to the posting-list join automatically instead of
  // silently running the O(n²/B) dense shape. Both geometries are
  // property-pinned equal, so the oracle is path-independent. The op's
  // raw-cosine threshold is a coarse prefilter (0.85); the DECISIVE
  // filter runs on the rounded value (>= 0.9) in both engines, so
  // last-ulp summation noise can never flip a boundary pair.
  def extSparseCos(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.text.SparseCosine.autoPairs(docs,
        dfCap = Long.MaxValue, minCos = 0.85)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
      .filter(col("cos") >= 0.9)
      .orderBy(desc("cos"), asc("id_a"), asc("id_b"))
  }

  // ---- E-57 feature scaling (per-dimension z-score) ----------------------------
  // First four standardized dimensions per vector; the oracle replays
  // the same two-pass (μ_d, σ_d) arithmetic per dimension.
  def extScale(s: SparkSession, dir: String): DataFrame =
    Scaling.standardScale(t(s, dir, "embeddings"))
      .select(col("vec_id"),
        round(element_at(col("scaled"), 1), 4).as("z1"),
        round(element_at(col("scaled"), 2), 4).as("z2"),
        round(element_at(col("scaled"), 3), 4).as("z3"),
        round(element_at(col("scaled"), 4), 4).as("z4"))
      .orderBy("vec_id")
      .limit(100)

  // ---- E-58 reciprocal rank fusion (hybrid retrieval) ---------------------------
  // Fuse the BM25 relevance ranking (E-28's terms) with a quality
  // ranking (unigram LM score ascending — E-18) over the same
  // candidate set. Both ranks order by the ROUNDED score then doc_id,
  // so float noise never reorders; the fused score is a deterministic
  // function of integer ranks.
  def extRrf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents")
    val bm = TextAnalysis.bm25(docs, Seq("spark", "table", "hash"))
      .select(col("doc_id"), round(col("bm25"), 4).as("s"))
    val lm = TextAnalysis.unigramLogScore(docs)
      .join(bm.select("doc_id"), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), round(col("lm_score"), 4).as("s"))
    val r1 = bm.select(col("doc_id"),
      row_number().over(Window.orderBy(desc("s"), asc("doc_id")))
        .cast("long").as("rank"))
    val r2 = lm.select(col("doc_id"),
      row_number().over(Window.orderBy(asc("s"), asc("doc_id")))
        .cast("long").as("rank"))
    graft.text.Fusion.rrf(Seq(r1, r2))
      .select(col("doc_id"), round(col("rrf"), 6).as("rrf"))
      .orderBy(desc("rrf"), asc("doc_id"))
      .limit(20)
  }

  // ---- E-59 market-basket association rules --------------------------------------
  // Brand co-purchase within orders: top directional rules by pair
  // count. part is dimension-sized (broadcast onto lineitem).
  def extBasket(s: SparkSession, dir: String): DataFrame = {
    val baskets = t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("p_brand"))
    Basket.associationRules(baskets, "l_orderkey", "p_brand")
      .select(col("a"), col("b"), col("c_ab"),
        round(col("support"), 6).as("support"),
        round(col("confidence"), 4).as("confidence"),
        round(col("lift"), 4).as("lift"))
      .orderBy(desc("c_ab"), asc("a"), asc("b"))
      .limit(20)
  }

  // ---- E-60 time-weighted average (TWAP) ---------------------------------------
  // Each observation holds until the next one, so its weight is the
  // interval it covered: twap = Σ vᵢ·Δtᵢ ∕ Σ Δtᵢ per key. One lead()
  // window per key (single shuffle), the same geometry as SCD2 — this
  // is what "average sensor reading" / "average position" should mean
  // on irregular samples, where the plain mean over-weights bursts.
  // Timestamp→double keeps fractional seconds (unix_timestamp would
  // truncate, q93's lesson).
  def extTwap(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("tsec", "event_id")
    t(s, dir, "events")
      .filter(col("user_id") <= 50)
      .select(col("user_id"), col("event_id"), col("value"),
        col("ts").cast("double").as("tsec"))
      .withColumn("dt", lead(col("tsec"), 1).over(w) - col("tsec"))
      .filter(col("dt").isNotNull)
      .groupBy("user_id")
      .agg(round(sum(col("value") * col("dt")) / sum(col("dt")), 4)
          .as("twap"),
        count(lit(1)).as("n_intervals"))
      .orderBy("user_id")
  }

  // ---- E-61 Benford leading-digit audit -------------------------------------------
  // Fraud/synthetic-data screening: the leading-digit distribution of a
  // naturally-occurring amount column vs Benford's law, with the
  // per-digit χ² contribution. Leading digit extracted arithmetically
  // (x / 10^⌊log10 x⌋) — string formatting of doubles is not
  // engine-portable; log10 at non-powers is. One scan + a 9-group agg.
  def extChisq(s: SparkSession, dir: String): DataFrame = {
    val x = col("o_totalprice")
    t(s, dir, "orders")
      .filter(x > 0)
      .select(floor(x / pow(lit(10.0), floor(log10(x)))).cast("int")
        .as("digit"))
      .groupBy("digit")
      .agg(count(lit(1)).as("obs"))
      .withColumn("n", sum("obs").over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .select(col("digit").cast("long").as("digit"), col("obs"),
        round(col("n") * log10(lit(1.0) + lit(1.0) / col("digit")), 4)
          .as("exp"),
        round(pow(col("obs") - col("n") * log10(lit(1.0) + lit(1.0) / col("digit")), 2)
          / (col("n") * log10(lit(1.0) + lit(1.0) / col("digit"))), 4)
          .as("chi2"))
      .orderBy("digit")
  }

  // ---- E-62 Gini concentration ----------------------------------------------------
  // Inequality of customer spend: G = (2 Σ i·xᵢ)/(n Σ x) − (n+1)/n over
  // rank-ordered totals. Tie order cannot change Σ i·xᵢ (equal x across
  // a tie block), so the statistic is deterministic.
  def extGini(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spend = t(s, dir, "orders")
      .groupBy("o_custkey").agg(sum("o_totalprice").as("x"))
    spend
      .withColumn("i", row_number().over(Window.orderBy("x", "o_custkey"))
        .cast("double"))
      .agg(count(lit(1)).as("n"), round(sum("x"), 2).as("total"),
        round((lit(2.0) * sum(col("i") * col("x")))
          / (count(lit(1)) * sum("x"))
          - (count(lit(1)) + lit(1.0)) / count(lit(1)), 6).as("gini"))
  }

  // ---- E-63 exponential moving average (bounded lookback) ------------------------
  // EMA as a closed-form weighted mean over the last 50 observations
  // per key: Σ x·α^(age) ∕ Σ α^(age), α = 0.8. The bounded lookback is
  // what keeps it portable — over an unbounded series the weight span
  // (α^-n) outgrows double precision and summation order starts to
  // matter; over 50 rows the span is 1.4e-5..1 and round(4) is safely
  // inside both engines' agreement. No recursion anywhere — rank
  // window + one weighted aggregate.
  def extEma(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
      .orderBy(desc("tsec"), desc("event_id"))
    t(s, dir, "events")
      .filter(col("user_id") <= 50)
      .select(col("user_id"), col("event_id"), col("value"),
        col("ts").cast("double").as("tsec"))
      .withColumn("age", (row_number().over(w) - 1).cast("double"))
      .filter(col("age") < 50)
      .groupBy("user_id")
      .agg(round(sum(col("value") * pow(lit(0.8), col("age")))
          / sum(pow(lit(0.8), col("age"))), 4).as("ema"),
        count(lit(1)).as("n_used"))
      .orderBy("user_id")
  }

  // ---- E-65 distribution drift: population stability index -----------------------
  // Price distribution, orders up to 1997 (reference) vs 1999+
  // (current); per-bin PSI contributions localize the drift. (The
  // fixture's dates span 1995–2001 — earlier cutoffs of 1994/1996
  // silently made the reference slice EMPTY at every SF, a comparison
  // of nothing vs everything that only stayed oracle-green because
  // Laplace smoothing kept both engines agreeing on the degenerate
  // input.)
  def extPsi(s: SparkSession, dir: String): DataFrame = {
    val yr = year(col("o_orderdate"))
    Drift.psiBins(
        t(s, dir, "orders").filter(yr <= 1997 || yr >= 1999),
        value = col("o_totalprice"), isRef = yr <= 1997,
        binWidth = 50000.0, nBins = 10)
      .select(col("bin").cast("long").as("bin"), col("c_ref"), col("c_cur"),
        round(col("p"), 6).as("p"), round(col("q"), 6).as("q"),
        round(col("contrib"), 6).as("contrib"))
      .orderBy("bin")
  }

  // ---- E-66 AUC-ROC of an embedding scorer ----------------------------------------
  // Does cosine-to-the-label-0-centroid separate label 0 from the rest?
  // Score = cosine to the per-dim mean of label-0 vectors, ROUNDED
  // before ranking (ties on the rounded score take average ranks —
  // float noise cannot move the statistic). The oracle replays
  // centroid, score, ranks and the Mann–Whitney formula.
  def extAuc(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val e = t(s, dir, "embeddings")
    val centroid = e.filter(col("label") === 0)
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("pos").agg(avg("v").as("m"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        x => x.getField("m")).as("c"))
    val scored = e.crossJoin(broadcast(centroid))
      .select(round(call_function("cosine_sim", col("embedding"), col("c")), 6)
          .as("score"),
        (col("label") === 0).as("pos"))
    Eval.auc(scored, col("score"), col("pos"))
      .select(col("n_pos"), col("n_neg"), round(col("auc"), 6).as("auc"))
  }

  // ---- T-14 frequent-token subsampling (word2vec-style) ----------------------------
  // Per-token before/after occurrence counts under t = 0.005: common
  // tokens thin ~3×, rare tokens survive untouched (p_keep saturates
  // at 1). The kept set is a pure function of sha256 — the oracle
  // replays the identical coin.
  def extSubsample(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val toks = docs.select(col("doc_id"),
      posexplode(filter(split(col("text"), " "), x => x =!= ""))
        .as(Seq("pos", "tok")))
    val before = toks.groupBy("tok").agg(count(lit(1)).as("n_before"))
    val after = TextAnalysis.subsampleFrequent(docs, t = 0.005)
      .groupBy("tok").agg(count(lit(1)).as("ka"))
    before.join(after, Seq("tok"), "left")
      .select(col("tok"), col("n_before"),
        coalesce(col("ka"), lit(0L)).as("n_after"))
      .orderBy(desc("n_before"), asc("tok"))
      .limit(20)
  }

  // ---- E-67 NDCG@10 retrieval evaluation ------------------------------------------
  // Per probe (every 97th vector): rank the corpus by rounded cosine,
  // binary relevance = same label; NDCG@10 = DCG / IDCG with
  // IDCG = Σ_{i≤min(10, n_relevant)} 1/log2(i+1) (the ideal list).
  // The probe side is tiny (broadcast probe pattern, like
  // ext_embed_topk); ideal-gain sums run as HOF folds over sequence —
  // no driver math.
  def extNdcg(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(s)
    val e = t(s, dir, "embeddings")
    val probes = e.filter(col("vec_id") % 97 === 0)
      .orderBy("vec_id").limit(128) // deterministic probe cap (see E-231)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"),
        col("label").as("plabel"))
    val w = Window.partitionBy("probe_id")
      .orderBy(desc("cos"), asc("vec_id"))
    val ranked = e.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(call_function("cosine_sim", col("embedding"), col("pv")), 4)
          .as("cos"),
        when(col("label") === col("plabel"), 1.0).otherwise(0.0).as("rel"))
      .withColumn("rk", row_number().over(w))
    val dcg = ranked.filter(col("rk") <= 10)
      .groupBy("probe_id")
      .agg(sum(col("rel") / log(2.0, col("rk") + 1)).as("dcg"))
    val nRel = ranked.groupBy("probe_id")
      .agg(sum("rel").cast("long").as("n_rel"))
    val idcg = aggregate(
      transform(sequence(lit(1), least(col("n_rel"), lit(10)).cast("int")),
        i => lit(1.0) / log(2.0, i + 1)),
      lit(0.0), (acc, x) => acc + x)
    dcg.join(nRel, "probe_id")
      .select(col("probe_id"), round(col("dcg"), 6).as("dcg"),
        round(idcg, 6).as("idcg"),
        round(col("dcg") / idcg, 6).as("ndcg"))
      .orderBy("probe_id")
  }

  // ---- E-68 per-class precision / recall / F1 ---------------------------------------
  // Derived from the E-44 nearest-centroid assignment: tp/fp/fn per
  // class, then the exact-rational P/R/F1 (integer counts in, so the
  // only float op is the final division — rounding is decorative).
  def extF1(s: SparkSession, dir: String): DataFrame = {
    val dims = t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("i", "x")))
      .withColumn("x", col("x").cast("double"))
    val cent = dims.groupBy(col("label").as("clabel"), col("i"))
      .agg(avg("x").as("cx"))
    val assigned = dims.join(broadcast(cent), "i")
      .groupBy("vec_id", "label", "clabel")
      .agg(sum((col("x") - col("cx")) * (col("x") - col("cx"))).as("d2"))
      .groupBy("vec_id", "label")
      .agg(expr("min_by(clabel, d2)").as("assigned"))
    val tp = assigned.filter(col("label") === col("assigned"))
      .groupBy(col("label").as("cls")).agg(count(lit(1)).as("tp"))
    val byTrue = assigned.groupBy(col("label").as("cls"))
      .agg(count(lit(1)).as("n_true"))
    val byAssigned = assigned.groupBy(col("assigned").as("cls"))
      .agg(count(lit(1)).as("n_assigned"))
    val p = col("tp") / col("n_assigned")
    val r = col("tp") / col("n_true")
    byTrue.join(byAssigned, Seq("cls"), "full_outer")
      .join(tp, Seq("cls"), "left")
      .na.fill(0L, Seq("tp", "n_true", "n_assigned"))
      .select(col("cls").cast("long").as("cls"), col("tp"),
        (col("n_assigned") - col("tp")).as("fp"),
        (col("n_true") - col("tp")).as("fn"),
        round(p, 4).as("prec"), round(r, 4).as("rec"),
        round(when(p + r === 0.0, lit(null))
          .otherwise(lit(2.0) * p * r / (p + r)), 4)
          .as("f1"))
      .orderBy("cls")
  }

  // ---- E-69 weighted median --------------------------------------------------------
  // Volume-weighted median part price (weight = order-line count):
  // sort by (price, key), running weight window, first row whose
  // cumulative weight reaches half the total. The plain median ignores
  // that some parts sell constantly and some never — the weighted one
  // is the distribution actually transacted.
  def extWMedian(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = t(s, dir, "lineitem")
      .groupBy(col("l_partkey").as("p_partkey"))
      .agg(count(lit(1)).as("wt"))
    val priced = t(s, dir, "part").join(w, "p_partkey")
    val ord = Window.orderBy("p_retailprice", "p_partkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy()
    priced
      .withColumn("cumw", sum("wt").over(ord))
      .withColumn("totw", sum("wt").over(tot))
      .filter(col("cumw") * 2 >= col("totw"))
      .sort("p_retailprice", "p_partkey")
      .limit(1)
      .select(col("totw").as("total_w"),
        round(col("p_retailprice"), 2).as("wmedian"))
  }

  // ---- E-70 PMI/NPMI collocations ---------------------------------------------
  // Top collocations by normalized PMI over the documents corpus; rank
  // on the ROUNDED npmi (tiebreak t1,t2) so cross-engine log noise
  // cannot reorder the cut. The oracle recomputes unigram/bigram
  // probabilities and both statistics from scratch.
  def extPmi(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.collocations(t(s, dir, "documents"), minCount = 5)
      .select(col("t1"), col("t2"), col("n_ab"), col("n_a"), col("n_b"),
        round(col("pmi"), 4).as("pmi"), round(col("npmi"), 4).as("npmi"))
      .orderBy(desc("npmi"), asc("t1"), asc("t2"))
      .limit(50)

  // ---- E-71 two-sample Kolmogorov–Smirnov drift test --------------------------
  // Same slices as ext_psi (orders ≤1997 vs ≥1999) through the bin-free
  // statistic: D = max ECDF gap, argmax value reported. Gap is rounded
  // BEFORE the argmax in both engines, so the selected row is pinned.
  def extKs(s: SparkSession, dir: String): DataFrame = {
    val yr = year(col("o_orderdate"))
    Drift.ks(
        t(s, dir, "orders").filter(yr <= 1997 || yr >= 1999),
        value = round(col("o_totalprice"), 2), isRef = yr <= 1997)
      .select(col("n_ref"), col("n_cur"), round(col("ks_at"), 2).as("ks_at"),
        col("ks"))
  }

  // ---- E-72 Cohen's kappa inter-rater agreement -------------------------------
  // Chance-corrected agreement between two deterministic labeling
  // rules: "big order" (totalprice > 150k) vs "urgent priority"
  // (1-URGENT/2-HIGH). Independent by construction, so κ ≈ 0 — the
  // exact value is pinned to 6 decimals; counts are exact rationals.
  def extKappa(s: SparkSession, dir: String): DataFrame =
    Eval.cohenKappa(t(s, dir, "orders"),
        raterA = col("o_totalprice") > 150000,
        raterB = col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .select(col("n"), round(col("p_o"), 6).as("p_o"),
        round(col("p_e"), 6).as("p_e"), round(col("kappa"), 6).as("kappa"))

  // ---- E-73 positional phrase search ------------------------------------------
  // Exact-sequence retrieval ("big order scan") via per-term postings
  // intersected on (doc, startPos) — the inverted-index formulation;
  // the oracle replays the identical adjacency join.
  def extPhrase(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.phraseSearch(t(s, dir, "documents"),
        Seq("big", "order", "scan"))
      .orderBy("doc_id")

  // ---- E-74 incremental aggregate maintenance ---------------------------------
  // The materialized-view algebra, gated end-to-end: state(≤1998) ⊕
  // state(≥1999) must equal the oracle's single-pass aggregation over
  // everything — the merge IS the correctness claim (the two slices
  // partition the fixture's 1995–2001 span).
  def extIncrAgg(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val yr = year(col("o_orderdate"))
    val key = col("o_custkey") % 100
    val merged = IncrementalAgg.merge(
      IncrementalAgg.state(o.filter(yr <= 1998), key, col("o_totalprice")),
      IncrementalAgg.state(o.filter(yr >= 1999), key, col("o_totalprice")))
    IncrementalAgg.metrics(merged)
      .select(col("k").cast("long").as("k"), col("n"),
        round(col("s"), 2).as("s"), round(col("avg"), 4).as("avg"),
        round(col("mn"), 2).as("mn"), round(col("mx"), 2).as("mx"))
      .orderBy("k")
  }

  // ---- E-75 Markov transition matrix ------------------------------------------
  // Event-type transition probabilities over per-user sequences,
  // (ts, event_id)-ordered; the oracle replays the identical lead()
  // and row normalization.
  def extMarkov(s: SparkSession, dir: String): DataFrame =
    Sequences.transitions(t(s, dir, "events").filter(col("user_id") <= 200),
        key = col("user_id"), state = col("event_type"),
        ordering = Seq(col("ts"), col("event_id")))
      .select(col("from_s"), col("to_s"), col("n"),
        round(col("p"), 4).as("p"))
      .orderBy("from_s", "to_s")

  // ---- E-76 equi-depth histogram ----------------------------------------------
  // ntile(8) over (rounded value, orderkey) — the unique tiebreak is
  // what makes tied values land in the same bin cross-engine; bounds
  // are data-driven, counts equal ±1.
  def extHistoEq(s: SparkSession, dir: String): DataFrame =
    Histogram.equiDepth(t(s, dir, "orders"),
        value = round(col("o_totalprice"), 2), tiebreak = col("o_orderkey"),
        nBins = 8)
      .select(col("bin").cast("long").as("bin"), col("cnt"),
        round(col("lo"), 2).as("lo"), round(col("hi"), 2).as("hi"))
      .orderBy("bin")

  // ---- E-77 grid-blocked spatial nearest join ---------------------------------
  // Deterministic pseudo-coordinates (two-decimal rationals from the
  // keys, exactly representable) in a [40,45)×[0,5) region; nearest
  // supplier within 60 km per customer. The engine runs the 3×3
  // grid-cell blocked join (exhaustive: 1° lon ≥ 78 km at 45°); the
  // oracle brute-forces all pairs — blocked ≡ exhaustive is the gated
  // claim. Distance rounded to 3 decimals in BOTH engines before the
  // radius filter and the rank, so libm ulp noise cannot flip a
  // boundary pair.
  def extGeoJoin(s: SparkSession, dir: String): DataFrame = {
    val probes = t(s, dir, "customer").select(col("c_custkey").as("id"),
      (lit(40.0) + (col("c_custkey") * 37 % 500) / 100.0).as("lat"),
      ((col("c_custkey") * 101 % 500) / 100.0).as("lon"))
    val cands = t(s, dir, "supplier").select(col("s_suppkey").as("id"),
      (lit(40.0) + (col("s_suppkey") * 53 % 500) / 100.0).as("lat"),
      ((col("s_suppkey") * 71 % 500) / 100.0).as("lon"))
    GeoJoin.nearestWithin(probes, cands, radiusKm = 60.0)
      .orderBy("probe_id")
  }

  // ---- E-78 2-D skyline / Pareto frontier -------------------------------------
  // "Record-setting orders": the (date, price) frontier — each frontier
  // date strictly beats every earlier date's best price. Sort-filter
  // skyline over the per-date aggregate (window runs on distinct-date
  // cardinality, not the input).
  def extSkyline(s: SparkSession, dir: String): DataFrame =
    Skyline.frontier2d(t(s, dir, "orders"),
        x = col("o_orderdate"), y = round(col("o_totalprice"), 2))
      .select(col("x").as("d"), col("y").as("best"))
      .orderBy("d")

  // ---- E-79 two-proportion z-test ---------------------------------------------
  // A/B primitive: do BUILDING and MACHINERY customers convert to
  // high-value orders (>150k) at the same rate? Pooled-variance z,
  // exact counts, 1-row output.
  def extZtest(s: SparkSession, dir: String): DataFrame = {
    val j = t(s, dir, "orders").join(t(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
    Eval.twoProportionZ(j,
        group = col("c_mktsegment") === "BUILDING",
        success = col("o_totalprice") > 150000)
      .select(col("n_a"), col("x_a"), col("n_b"), col("x_b"),
        round(col("p_a"), 6).as("p_a"), round(col("p_b"), 6).as("p_b"),
        round(col("z"), 4).as("z"))
  }

  // ---- E-82 random-projection dim reduction -----------------------------------
  // 64 → 8 dims through the sha256-Rademacher matrix; the oracle
  // regenerates the identical matrix from the identical hashes, so the
  // projection is pinned value-for-value.
  def extRproj(s: SparkSession, dir: String): DataFrame =
    RandomProjection.project(
        t(s, dir, "embeddings").filter(col("vec_id") < 20),
        dIn = 64, kOut = 8)
      .select(col("vec_id").cast("long").as("vec_id"),
        col("j").cast("long").as("j"), round(col("v"), 4).as("v"))
      .orderBy("vec_id", "j")

  // ---- E-88 dataset diff -------------------------------------------------------
  // Data-ops regression check against a synthetic "next version" of
  // customer: keys %101 dropped, %97 modified (+1), 25 nation-derived
  // keys added. Output = the non-unchanged rows — the review set.
  def extTableDiff(s: SparkSession, dir: String): DataFrame = {
    val cur = t(s, dir, "customer")
      .select(col("c_custkey").as("k"), round(col("c_acctbal"), 2).as("v"))
    val nxt = cur.filter(col("k") % 101 =!= 0)
      .withColumn("v",
        when(col("k") % 97 === 0, round(col("v") + 1, 2)).otherwise(col("v")))
      .unionByName(t(s, dir, "nation")
        .select((col("n_nationkey") + 5000000L).as("k"),
          round(col("n_nationkey") + lit(0.5), 2).as("v")))
    TableDiff.diff(cur, nxt, "k")
      .filter(col("status") =!= "unchanged")
      .select(col("k"), col("status"), col("v_old"), col("v_new"))
      .orderBy("k")
      .limit(200)
  }

  // ---- E-91 cross-domain quantile normalization --------------------------------
  // Percentile-rank the quality score WITHIN each source — the
  // calibration that makes "top 10% of src0" comparable to "top 10% of
  // src2" when raw score scales differ. Rank on (rounded quality,
  // doc_id), so the oracle's rank is identical.
  def extQnorm(s: SparkSession, dir: String): DataFrame = {
    val scored = TextAnalysis.qualityFeatures(t(s, dir, "documents"))
      .select(col("doc_id"), col("source"), col("quality"))
    Scaling.percentileRank(scored, group = col("source"),
        score = col("quality"), tiebreak = col("doc_id"))
      .select(col("doc_id"), col("source"), col("quality"),
        round(col("pr"), 4).as("pr"))
      .orderBy("doc_id")
      .limit(200)
  }

  // ---- E-92 hash-ring negative pairs -------------------------------------------
  // One deterministic "random" partner per document (sha256 ring
  // successor, wrap-around) — contrastive negatives without a cross
  // join; every doc appears exactly once on each side.
  def extNegPairs(s: SparkSession, dir: String): DataFrame =
    Sampling.ringPairs(t(s, dir, "documents"), col("doc_id"))
      .select(col("key").as("doc_id"), col("partner"))
      .orderBy("doc_id")

  // ---- E-95 length-balanced resampling -----------------------------------------
  // Mixture resampling with a COMPUTED domain: token-length bin
  // (20-token buckets, capped at 4) with equal quotas — the
  // "length-balance the batch" step that stops short docs from
  // dominating a token-budgeted corpus. Reuses E-50's machinery, so
  // the draw stays RNG-free and engine-reproducible; under-filled
  // bins contribute everything they have.
  def extLenBalance(s: SparkSession, dir: String): DataFrame = {
    val lbin = least(
        floor(size(filter(split(col("text"), " "), x => x =!= "")) / 20),
        lit(4L))
      .cast("string")
    Mixture.resampleToMixture(
        t(s, dir, "documents").withColumn("lbin", lbin),
        domain = col("lbin"), key = col("doc_id"),
        weights = Map("0" -> 1.0, "1" -> 1.0, "2" -> 1.0, "3" -> 1.0,
          "4" -> 1.0),
        total = 50)
      .select(col("doc_id"), col("lbin"))
      .orderBy("doc_id")
  }

  // ---- E-96 Monroe log-odds token comparison -----------------------------------
  // "What words distinguish src0 from src1" done right (Monroe et al.
  // 2008): log-odds-ratio with an informative Dirichlet prior drawn
  // from the whole corpus, z-scored by the delta's approximate
  // variance — the statistically honest alternative to raw frequency
  // ratios (which explode on rare tokens). All counts exact; rank on
  // the ROUNDED z with the token as tiebreak.
  def extLogOdds(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("source"),
        explode(filter(split(col("text"), " "), x => x =!= "")).as("tok"))
    val a0 = 100.0
    val counts = toks
      .filter(col("source").isin("src0", "src1"))
      .groupBy("tok")
      .agg(sum(when(col("source") === "src0", 1L).otherwise(0L)).as("y1"),
        sum(when(col("source") === "src1", 1L).otherwise(0L)).as("y2"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    val prior = toks.groupBy("tok").agg(count(lit(1)).as("f"))
      .withColumn("aw", lit(a0) * col("f") / sum("f").over(wAll))
    counts.join(broadcast(prior.select(col("tok"), col("aw"))), "tok")
      .withColumn("n1", sum("y1").over(wAll))
      .withColumn("n2", sum("y2").over(wAll))
      .withColumn("d",
        log((col("y1") + col("aw"))
            / (col("n1") + lit(a0) - col("y1") - col("aw")))
          - log((col("y2") + col("aw"))
            / (col("n2") + lit(a0) - col("y2") - col("aw"))))
      .withColumn("z", round(col("d")
        / sqrt(lit(1.0) / (col("y1") + col("aw"))
          + lit(1.0) / (col("y2") + col("aw"))), 4))
      .select(col("tok"), col("y1"), col("y2"), col("z"))
      .orderBy(desc("z"), asc("tok"))
      .limit(20)
  }

  // ---- E-97 Zipf rank-frequency fit ---------------------------------------------
  // Vocabulary health check: regress ln(freq) on ln(rank) — natural
  // corpora sit near slope −1; a synthetic/duplicated corpus does not.
  // Rank is (freq desc, token) row_number, so ties are pinned; the
  // regression runs over the vocab-sized table.
  def extZipf(s: SparkSession, dir: String): DataFrame = {
    val freq = t(s, dir, "documents")
      .select(explode(filter(split(col("text"), " "), x => x =!= "")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("f"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(desc("f"), asc("tok"))))
    freq.agg(
      count(lit(1)).as("n_types"),
      round(expr("regr_slope(ln(f), ln(rnk))"), 4).as("slope"),
      round(expr("regr_intercept(ln(f), ln(rnk))"), 4).as("icept"),
      round(expr("regr_r2(ln(f), ln(rnk))"), 4).as("r2"))
  }

  // ---- E-98 vocabulary growth (Heaps' law probe) --------------------------------
  // Distinct-type count after the first 100/200/.../500 documents —
  // computed WITHOUT an inequality join: each token's first-occurrence
  // doc (min doc_id) feeds five conditional sums in one aggregate.
  def extVocabGrowth(s: SparkSession, dir: String): DataFrame = {
    val firstSeen = t(s, dir, "documents")
      .select(col("doc_id"),
        explode(filter(split(col("text"), " "), x => x =!= "")).as("tok"))
      .groupBy("tok").agg(min("doc_id").as("m"))
    firstSeen.agg(
      sum(when(col("m") < 100, 1L).otherwise(0L)).as("v100"),
      sum(when(col("m") < 200, 1L).otherwise(0L)).as("v200"),
      sum(when(col("m") < 300, 1L).otherwise(0L)).as("v300"),
      sum(when(col("m") < 400, 1L).otherwise(0L)).as("v400"),
      sum(when(col("m") < 500, 1L).otherwise(0L)).as("v500"),
      count(lit(1)).as("v_all"))
  }

  // ---- E-99 token-budget quality selection --------------------------------------
  // "Fill a 5 000-token budget with the best documents": quality-desc
  // cumulative token sum, cut at the budget — the greedy coreset every
  // token-budgeted training run uses. The global sort window runs over
  // doc-count rows; at corpus scale the same cut comes from a quality-
  // histogram threshold (two passes, no global sort) — this is its
  // exact form and oracle.
  def extBudget(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("quality"), asc("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    TextAnalysis.qualityFeatures(t(s, dir, "documents"))
      .select(col("doc_id"), col("n_tokens"), col("quality"))
      .withColumn("cum", sum("n_tokens").over(w))
      .filter(col("cum") <= 5000)
      .orderBy("doc_id")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ext_budget" -> (extBudget _),
    "ext_logodds" -> (extLogOdds _),
    "ext_zipf" -> (extZipf _),
    "ext_vocabgrowth" -> (extVocabGrowth _),
    "ext_lenbalance" -> (extLenBalance _),
    "ext_tablediff" -> (extTableDiff _),
    "ext_qnorm" -> (extQnorm _),
    "ext_negpairs" -> (extNegPairs _),
    "ext_skyline" -> (extSkyline _),
    "ext_ztest" -> (extZtest _),
    "ext_rproj" -> (extRproj _),
    "ext_incragg" -> (extIncrAgg _),
    "ext_markov" -> (extMarkov _),
    "ext_histo_eq" -> (extHistoEq _),
    "ext_geo_join" -> (extGeoJoin _),
    "ext_pmi" -> (extPmi _),
    "ext_ks" -> (extKs _),
    "ext_kappa" -> (extKappa _),
    "ext_phrase" -> (extPhrase _),
    "ext_wmedian" -> (extWMedian _),
    "ext_f1" -> (extF1 _),
    "ext_ndcg" -> (extNdcg _),
    "ext_subsample" -> (extSubsample _),
    "ext_auc" -> (extAuc _),
    "ext_psi" -> (extPsi _),
    "ext_ema" -> (extEma _),
    "ext_chisq" -> (extChisq _),
    "ext_gini" -> (extGini _),
    "ext_twap" -> (extTwap _),
    "ext_basket" -> (extBasket _),
    "ext_rrf" -> (extRrf _),
    "ext_scale" -> (extScale _),
    "ext_sparse_cos" -> (extSparseCos _),
    "ext_cdc_chunk" -> (extCdcChunk _),
    "ext_kanon" -> (extKanon _),
    "ext_kcore" -> (extKcore _),
    "ext_entropy" -> (extEntropy _),
    "ext_decontaminate" -> (extDecontaminate _),
    "ext_repetition" -> (extRepetition _),
    "ext_semdedup" -> (extSemdedup _),
    "ext_mixture" -> (extMixture _),
    "ext_bfs" -> (extBfs _))

  val oracleSql: Map[String, String] = Map(
    // E-99: the quality formula (ext_quality's CTE) + the identical
    // quality-desc cumulative cut.
    "ext_budget" ->
      """with f as (select doc_id,
        |  cast(len(list_filter(string_split(text,' '), t -> t <> '')) as double) nt,
        |  cast(len(list_filter(string_split(text,' '),
        |    t -> t in ('the','a','of','and','to','in','is','on','for','with'))) as double) nstop,
        |  cast(len(list_distinct(list_filter(string_split(text,' '), t -> t <> ''))) as double) nd,
        |  cast(length(text) as double) nc,
        |  cast(length(regexp_replace(text, '[^a-z0-9]', '', 'g')) as double) nalnum
        |  from documents),
        |q as (select doc_id, cast(nt as bigint) n_tokens,
        |  round(case when nt > 0 then
        |    least(cast(1.0 as double), nt / cast(100.0 as double)) * cast(0.4 as double)
        |    + (nd / nt) * cast(0.3 as double)
        |    + (cast(1.0 as double) - nstop / nt) * cast(0.2 as double)
        |    + (case when nc > 0 then nalnum / nc else 0 end) * cast(0.1 as double)
        |  else 0 end, 4) quality
        |  from f),
        |c as (select doc_id, n_tokens, quality,
        |    sum(n_tokens) over (order by quality desc, doc_id
        |      rows unbounded preceding) cum
        |  from q)
        |select doc_id, n_tokens, quality, cast(cum as bigint) cum
        |from c where cum <= 5000 order by doc_id""".stripMargin,

    // E-96: identical Dirichlet-prior log-odds arithmetic, rank on the
    // rounded z.
    "ext_logodds" ->
      """with toks as (select source,
        |    unnest(list_filter(string_split(text, ' '), t -> t <> '')) tok
        |  from documents),
        |c as (select tok,
        |    sum(case when source = 'src0' then 1 else 0 end) y1,
        |    sum(case when source = 'src1' then 1 else 0 end) y2
        |  from toks where source in ('src0', 'src1') group by 1),
        |pri as (select tok, 100.0 * count(*) / (sum(count(*)) over ()) aw
        |  from toks group by 1),
        |j as (select c.tok, y1, y2, aw,
        |    sum(y1) over () n1, sum(y2) over () n2
        |  from c join pri on c.tok = pri.tok),
        |z as (select tok, y1, y2,
        |    round((ln((y1 + aw) / (n1 + 100.0 - y1 - aw))
        |      - ln((y2 + aw) / (n2 + 100.0 - y2 - aw)))
        |      / sqrt(1.0 / (y1 + aw) + 1.0 / (y2 + aw)), 4) z
        |  from j)
        |select tok, cast(y1 as bigint) y1, cast(y2 as bigint) y2, z
        |from z order by z desc, tok limit 20""".stripMargin,

    // E-97: same (freq desc, token) rank, DuckDB's native regr_* over
    // the identical log pairs.
    "ext_zipf" ->
      """with f as (select tok, count(*) f from (select
        |    unnest(list_filter(string_split(text, ' '), t -> t <> '')) tok
        |  from documents) group by 1),
        |r as (select f, row_number() over (order by f desc, tok) rnk from f)
        |select cast(count(*) as bigint) n_types,
        |  round(regr_slope(ln(f), ln(rnk)), 4) slope,
        |  round(regr_intercept(ln(f), ln(rnk)), 4) icept,
        |  round(regr_r2(ln(f), ln(rnk)), 4) r2
        |from r""".stripMargin,

    // E-98: per-token first-seen doc, five conditional sums.
    "ext_vocabgrowth" ->
      """with fs as (select tok, min(doc_id) m from (select doc_id,
        |    unnest(list_filter(string_split(text, ' '), t -> t <> '')) tok
        |  from documents) group by 1)
        |select
        |  cast(sum(case when m < 100 then 1 else 0 end) as bigint) v100,
        |  cast(sum(case when m < 200 then 1 else 0 end) as bigint) v200,
        |  cast(sum(case when m < 300 then 1 else 0 end) as bigint) v300,
        |  cast(sum(case when m < 400 then 1 else 0 end) as bigint) v400,
        |  cast(sum(case when m < 500 then 1 else 0 end) as bigint) v500,
        |  cast(count(*) as bigint) v_all
        |from fs""".stripMargin,

    // E-95: the identical computed bin + sha rank with quota 10 per bin
    // (floor(50/5)).
    "ext_lenbalance" ->
      """with d as (select doc_id,
        |    cast(least(cast(len(list_filter(string_split(text, ' '),
        |      t -> t <> '')) // 20 as bigint), 4) as varchar) lbin
        |  from documents),
        |r as (select doc_id, lbin,
        |    row_number() over (partition by lbin
        |      order by sha256(cast(doc_id as varchar)), doc_id) rn
        |  from d)
        |select doc_id, lbin from r where rn <= 10 order by doc_id""".stripMargin,

    // E-88: the same synthetic next-version + full-outer classification.
    "ext_tablediff" ->
      """with cur as (select c_custkey k, round(c_acctbal, 2) v from customer),
        |nxt as (select k,
        |    case when k % 97 = 0 then round(v + 1, 2) else v end v
        |  from cur where k % 101 <> 0
        |  union all
        |  select cast(5000000 + n_nationkey as bigint) k,
        |    round(n_nationkey + 0.5, 2) v from nation),
        |d as (select coalesce(c.k, n.k) k,
        |    case when n.k is null then 'removed'
        |      when c.k is null then 'added'
        |      when c.v is distinct from n.v then 'changed'
        |      else 'unchanged' end status,
        |    c.v v_old, n.v v_new
        |  from cur c full outer join nxt n on c.k = n.k)
        |select k, status, v_old, v_new from d
        |where status <> 'unchanged' order by k limit 200""".stripMargin,

    // E-91: quality recomputed (the ext_quality formula), then the
    // identical (quality, doc_id) rank within source.
    "ext_qnorm" ->
      """with f as (select doc_id, source,
        |  cast(len(list_filter(string_split(text,' '), t -> t <> '')) as double) nt,
        |  cast(len(list_filter(string_split(text,' '),
        |    t -> t in ('the','a','of','and','to','in','is','on','for','with'))) as double) nstop,
        |  cast(len(list_distinct(list_filter(string_split(text,' '), t -> t <> ''))) as double) nd,
        |  cast(length(text) as double) nc,
        |  cast(length(regexp_replace(text, '[^a-z0-9]', '', 'g')) as double) nalnum
        |  from documents),
        |q as (select doc_id, source,
        |  round(case when nt > 0 then
        |    least(cast(1.0 as double), nt / cast(100.0 as double)) * cast(0.4 as double)
        |    + (nd / nt) * cast(0.3 as double)
        |    + (cast(1.0 as double) - nstop / nt) * cast(0.2 as double)
        |    + (case when nc > 0 then nalnum / nc else 0 end) * cast(0.1 as double)
        |  else 0 end, 4) quality
        |  from f),
        |r as (select doc_id, source, quality,
        |    count(*) over (partition by source) n,
        |    row_number() over (partition by source
        |      order by quality, doc_id) rn
        |  from q)
        |select doc_id, source, quality,
        |  round(case when n > 1 then (rn - 1) / cast(n - 1 as double)
        |    else 0.5 end, 4) pr
        |from r order by doc_id limit 200""".stripMargin,

    // E-92: the identical sha256 ring (lowercase hex on both engines).
    "ext_negpairs" ->
      """with h as (select doc_id,
        |    sha256('ring:' || cast(doc_id as varchar)) h from documents),
        |p as (select doc_id,
        |    coalesce(lead(doc_id) over (order by h, doc_id),
        |      first_value(doc_id) over (order by h, doc_id
        |        rows between unbounded preceding and unbounded following))
        |      partner
        |  from h)
        |select doc_id, partner from p order by doc_id""".stripMargin,

    // E-78: the same sort-filter skyline over the per-date aggregate.
    "ext_skyline" ->
      """with g as (select o_orderdate d, round(max(o_totalprice), 2) best
        |  from orders group by 1),
        |f as (select d, best,
        |    max(best) over (order by d
        |      rows between unbounded preceding and 1 preceding) prev_best
        |  from g)
        |select d, best from f
        |where prev_best is null or best > prev_best order by d""".stripMargin,

    // E-79: identical pooled-z arithmetic over exact counts.
    "ext_ztest" ->
      """with j as (select o_totalprice > 150000 s,
        |    c_mktsegment = 'BUILDING' g
        |  from orders join customer on o_custkey = c_custkey
        |  where c_mktsegment in ('BUILDING', 'MACHINERY')),
        |a as (select
        |    sum(case when g then 1 else 0 end) na,
        |    sum(case when g and s then 1 else 0 end) xa,
        |    sum(case when not g then 1 else 0 end) nb,
        |    sum(case when not g and s then 1 else 0 end) xb
        |  from j),
        |p as (select na, xa, nb, xb,
        |    (xa + xb) / cast(na + nb as double) pool from a)
        |select cast(na as bigint) n_a, cast(xa as bigint) x_a,
        |  cast(nb as bigint) n_b, cast(xb as bigint) x_b,
        |  round(xa / cast(na as double), 6) p_a,
        |  round(xb / cast(nb as double), 6) p_b,
        |  round((xa / cast(na as double) - xb / cast(nb as double))
        |    / sqrt(pool * (1 - pool) * (1.0 / na + 1.0 / nb)), 4) z
        |from p""".stripMargin,

    // E-82: the matrix regenerated from the identical sha256 parity —
    // '0x'-parse trick per the sampling convention.
    "ext_rproj" ->
      """with e as (select vec_id, cast(unnest(embedding) as double) x,
        |    generate_subscripts(embedding, 1) - 1 i
        |  from embeddings where vec_id < 20),
        |r as (select i.range i, j.range j,
        |    case when ('0x' || substr(sha256(
        |        cast(i.range as varchar) || ':' || cast(j.range as varchar)),
        |        1, 1))::int % 2 = 0 then 1.0 else -1.0 end r
        |  from range(64) i cross join range(8) j)
        |select cast(e.vec_id as bigint) vec_id, cast(r.j as bigint) j,
        |  round(sum(e.x * r.r) / sqrt(8), 4) v
        |from e join r on e.i = r.i
        |group by 1, 2 order by 1, 2""".stripMargin,

    // E-74: one single-pass aggregation over the whole table — the
    // engine's two-state merge must reproduce it exactly.
    "ext_incragg" ->
      """select cast(o_custkey % 100 as bigint) k,
        |  cast(count(*) as bigint) n,
        |  round(sum(o_totalprice), 2) s,
        |  round(sum(o_totalprice) / count(*), 4) avg,
        |  round(min(o_totalprice), 2) mn,
        |  round(max(o_totalprice), 2) mx
        |from orders group by 1 order by 1""".stripMargin,

    // E-75: identical lead() + row normalization.
    "ext_markov" ->
      """with t2 as (select event_type from_s,
        |    lead(event_type) over (partition by user_id
        |      order by ts, event_id) to_s
        |  from events where user_id <= 200),
        |g as (select from_s, to_s, count(*) n from t2
        |  where to_s is not null group by 1, 2)
        |select from_s, to_s, cast(n as bigint) n,
        |  round(n / cast(sum(n) over (partition by from_s) as double), 4) p
        |from g order by 1, 2""".stripMargin,

    // E-76: same ntile over the same unique order.
    "ext_histo_eq" ->
      """with x as (select round(o_totalprice, 2) v,
        |    ntile(8) over (order by round(o_totalprice, 2), o_orderkey) bin
        |  from orders)
        |select cast(bin as bigint) bin, cast(count(*) as bigint) cnt,
        |  round(min(v), 2) lo, round(max(v), 2) hi
        |from x group by 1 order by 1""".stripMargin,

    // E-77: brute-force all-pairs haversine — the blocked engine path
    // must match the exhaustive oracle.
    "ext_geo_join" ->
      """with c as (select c_custkey id,
        |    40 + (c_custkey * 37 % 500) / 100.0 lat,
        |    (c_custkey * 101 % 500) / 100.0 lon from customer),
        |s as (select s_suppkey id,
        |    40 + (s_suppkey * 53 % 500) / 100.0 lat,
        |    (s_suppkey * 71 % 500) / 100.0 lon from supplier),
        |d as (select c.id probe_id, s.id cand_id,
        |    round(2 * 6371 * asin(sqrt(
        |      pow(sin(radians(s.lat - c.lat) / 2), 2)
        |      + cos(radians(c.lat)) * cos(radians(s.lat))
        |        * pow(sin(radians(s.lon - c.lon) / 2), 2))), 3) dist_km
        |  from c cross join s),
        |f as (select probe_id, cand_id, dist_km,
        |    row_number() over (partition by probe_id
        |      order by dist_km, cand_id) rn
        |  from d where dist_km <= 60)
        |select cast(probe_id as bigint) probe_id,
        |  cast(cand_id as bigint) cand_id, dist_km
        |from f where rn = 1 order by probe_id""".stripMargin,

    // E-70: unigram/bigram probabilities and both statistics recomputed
    // from scratch; bigram slots via the 1-based adjacency join (only
    // relative offsets matter vs Spark's 0-based posexplode).
    "ext_pmi" ->
      """with tp as (select doc_id d,
        |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) tok,
        |    generate_subscripts(list_filter(string_split(text, ' '), x -> x <> ''), 1) i
        |  from documents),
        |uni as (select tok, count(*) n from tp group by 1),
        |bg as (select a.tok t1, b.tok t2, count(*) n_ab
        |  from tp a join tp b on a.d = b.d and b.i = a.i + 1
        |  group by 1, 2),
        |j as (select t1, t2, n_ab, ua.n n_a, ub.n n_b,
        |    n_ab / (select sum(n_ab) from bg) p_ab,
        |    (ua.n / (select sum(n) from uni))
        |      * (ub.n / (select sum(n) from uni)) p_ind
        |  from bg join uni ua on ua.tok = bg.t1
        |    join uni ub on ub.tok = bg.t2
        |  where n_ab >= 5)
        |select t1, t2, cast(n_ab as bigint) n_ab, cast(n_a as bigint) n_a,
        |  cast(n_b as bigint) n_b,
        |  round(log2(p_ab / p_ind), 4) pmi,
        |  round(log2(p_ab / p_ind) / (-log2(p_ab)), 4) npmi
        |from j order by npmi desc, t1, t2 limit 50""".stripMargin,

    // E-71: ECDFs over distinct values (tie blocks enter whole), gap
    // rounded BEFORE the argmax, value as tiebreak — same pinning as
    // the Spark side.
    "ext_ks" ->
      """with f as (select round(o_totalprice, 2) v,
        |    year(o_orderdate) <= 1997 r
        |  from orders
        |  where year(o_orderdate) <= 1997 or year(o_orderdate) >= 1999),
        |g as (select v, sum(case when r then 1 else 0 end) a_ref,
        |    sum(case when r then 0 else 1 end) a_cur
        |  from f group by 1),
        |c as (select v,
        |    round(abs(
        |      sum(a_ref) over (order by v rows unbounded preceding)
        |        / cast(sum(a_ref) over () as double)
        |      - sum(a_cur) over (order by v rows unbounded preceding)
        |        / cast(sum(a_cur) over () as double)), 6) gap,
        |    sum(a_ref) over () n_ref, sum(a_cur) over () n_cur
        |  from g)
        |select cast(n_ref as bigint) n_ref, cast(n_cur as bigint) n_cur,
        |  round(v, 2) ks_at, gap ks
        |from c order by gap desc, v limit 1""".stripMargin,

    // E-72: κ from exact counts; p_e spelled out (pa·pb + (1−pa)(1−pb))
    // in the same arithmetic order as Eval.cohenKappa.
    "ext_kappa" ->
      """with f as (select o_totalprice > 150000 a,
        |    o_orderpriority in ('1-URGENT', '2-HIGH') b from orders),
        |g as (select count(*) n,
        |    sum(case when a then 1 else 0 end) na,
        |    sum(case when b then 1 else 0 end) nb,
        |    sum(case when a = b then 1 else 0 end) nagree
        |  from f),
        |p as (select n,
        |    nagree / cast(n as double) po,
        |    (na / cast(n as double)) * (nb / cast(n as double))
        |      + (1 - na / cast(n as double)) * (1 - nb / cast(n as double)) pe
        |  from g)
        |select cast(n as bigint) n, round(po, 6) p_o, round(pe, 6) p_e,
        |  round((po - pe) / (1 - pe), 6) kappa
        |from p""".stripMargin,

    // E-73: the identical postings adjacency join (1-based subscripts —
    // relative offsets only).
    "ext_phrase" ->
      """with tp as (select doc_id d,
        |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) tok,
        |    generate_subscripts(list_filter(string_split(text, ' '), x -> x <> ''), 1) i
        |  from documents)
        |select a.d doc_id, cast(count(*) as bigint) n_hits
        |from tp a
        |  join tp b on a.d = b.d and b.i = a.i + 1 and b.tok = 'order'
        |  join tp c on a.d = c.d and c.i = a.i + 2 and c.tok = 'scan'
        |where a.tok = 'big'
        |group by 1 order by 1""".stripMargin,
    "ext_wmedian" ->
      """with w as (select l_partkey p_partkey, count(*) wt
        |  from lineitem group by 1),
        |p as (select p_retailprice, part.p_partkey, wt
        |  from part join w using(p_partkey)),
        |c as (select p_retailprice, p_partkey, wt,
        |    sum(wt) over (order by p_retailprice, p_partkey
        |      rows unbounded preceding) cumw,
        |    sum(wt) over () totw
        |  from p)
        |select cast(totw as bigint) total_w,
        |  round(p_retailprice, 2) wmedian
        |from c where cumw * 2 >= totw
        |order by p_retailprice, p_partkey limit 1""".stripMargin,

    "ext_f1" ->
      """with dims as (select vec_id, label,
        |    cast(unnest(embedding) as double) x,
        |    generate_subscripts(embedding, 1) i from embeddings),
        |cent as (select label clabel, i, avg(x) cx from dims group by 1, 2),
        |dist as (select d.vec_id, d.label, c.clabel,
        |    sum((d.x - c.cx) * (d.x - c.cx)) d2
        |  from dims d join cent c using(i) group by 1, 2, 3),
        |a as (select vec_id, label, arg_min(clabel, d2) assigned
        |  from dist group by 1, 2),
        |tps as (select label cls, count(*) tp from a
        |  where label = assigned group by 1),
        |bt as (select label cls, count(*) n_true from a group by 1),
        |ba as (select assigned cls, count(*) n_assigned from a group by 1),
        |m as (select cls,
        |    coalesce(tp, 0) tp, coalesce(n_true, 0) n_true,
        |    coalesce(n_assigned, 0) n_assigned
        |  from bt full outer join ba using(cls) left join tps using(cls))
        |select cast(cls as bigint) cls, cast(tp as bigint) tp,
        |  cast(n_assigned - tp as bigint) fp,
        |  cast(n_true - tp as bigint) fn,
        |  round(tp / n_assigned, 4) prec,
        |  round(tp / n_true, 4) rec,
        |  round(case when tp / n_assigned + tp / n_true = 0 then null
        |    else 2 * (tp / n_assigned) * (tp / n_true)
        |         / (tp / n_assigned + tp / n_true) end, 4) f1
        |from m order by cls""".stripMargin,

    "ext_ndcg" ->
      """with n as (select vec_id, label, embedding e,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> cast(x as double) * x))) nrm
        |  from embeddings),
        |pr as (select vec_id probe_id, label plabel, e pv, nrm pnrm
        |  from n where vec_id % 97 = 0 order by vec_id limit 128),
        |sc as (select probe_id, vec_id, plabel, label,
        |    round(list_sum(list_transform(n.e,
        |      (x, i) -> cast(x as double) * pv[i])) / (nrm * pnrm), 4) cos
        |  from n cross join pr where vec_id <> probe_id),
        |rk as (select probe_id,
        |    case when label = plabel then 1.0 else 0.0 end rel,
        |    row_number() over (partition by probe_id
        |      order by cos desc, vec_id) rk
        |  from sc),
        |d as (select probe_id, sum(rel / log2(rk + 1)) dcg
        |  from rk where rk <= 10 group by probe_id),
        |nr as (select probe_id, cast(sum(rel) as bigint) n_rel
        |  from rk group by probe_id),
        |id as (select probe_id,
        |    (select sum(1.0 / log2(i + 1))
        |     from unnest(range(1, cast(least(n_rel, 10) as bigint) + 1)) u(i))
        |      idcg
        |  from nr)
        |select d.probe_id, round(dcg, 6) dcg, round(idcg, 6) idcg,
        |  round(dcg / idcg, 6) ndcg
        |from d join id using(probe_id) order by d.probe_id""".stripMargin,

    "ext_subsample" ->
      """with tk as (select doc_id, i - 1 pos, tl[i] tok
        |  from (select doc_id, list_filter(string_split(text, ' '),
        |      w -> w <> '') tl from documents),
        |    unnest(range(1, len(tl) + 1)) u(i)),
        |tot as (select cast(count(*) as double) n from tk),
        |fr as (select tok, count(*) c from tk group by tok),
        |p as (select tok, c,
        |    least(1.0, sqrt(0.005 / (c / n)) + 0.005 / (c / n)) pk
        |  from fr, tot),
        |kept as (select tk.tok from tk join p using(tok)
        |  where ((('0x' || substr(sha256(doc_id || ':' || pos), 1, 15))::bigint)
        |         + cast(0.5 as double)) / 1152921504606846976.0 < pk),
        |ka as (select tok, count(*) k from kept group by tok)
        |select p.tok, cast(c as bigint) n_before,
        |  cast(coalesce(k, 0) as bigint) n_after
        |from p left join ka using(tok)
        |order by n_before desc, p.tok limit 20""".stripMargin,

    "ext_auc" ->
      """with c as (select i, avg(cast(embedding[i] as double)) m
        |  from embeddings, unnest(range(1, len(embedding) + 1)) u(i)
        |  where label = 0 group by i),
        |sc as (select vec_id, label = 0 pos,
        |    round(
        |      (select sum(cast(e.embedding[c.i] as double) * c.m) from c)
        |      / (sqrt(list_sum(list_transform(e.embedding,
        |           x -> cast(x as double) * x)))
        |         * (select sqrt(sum(m * m)) from c)), 6) score
        |  from embeddings e),
        |r as (select pos, rank() over (order by score)
        |    + (count(*) over (partition by score) - 1) / 2.0 ar
        |  from sc)
        |select cast(sum(case when pos then 1 else 0 end) as bigint) n_pos,
        |  cast(sum(case when pos then 0 else 1 end) as bigint) n_neg,
        |  round((sum(case when pos then ar end)
        |         - sum(case when pos then 1 else 0 end)
        |           * (sum(case when pos then 1 else 0 end) + 1) / 2.0)
        |        / (sum(case when pos then 1 else 0 end)
        |           * sum(case when pos then 0 else 1 end)), 6) auc
        |from r""".stripMargin,

    "ext_psi" ->
      """with f as (select o_totalprice x, year(o_orderdate) <= 1997 is_ref
        |  from orders
        |  where year(o_orderdate) <= 1997 or year(o_orderdate) >= 1999),
        |c as (select cast(greatest(least(floor(x / 50000), 9), 0) as bigint) bin,
        |    cast(sum(case when is_ref then 1 else 0 end) as bigint) c_ref,
        |    cast(sum(case when is_ref then 0 else 1 end) as bigint) c_cur
        |  from f group by 1),
        |t as (select sum(c_ref) n_ref, sum(c_cur) n_cur from c)
        |select bin, c_ref, c_cur,
        |  round((c_ref + 1) / (n_ref + 10), 6) p,
        |  round((c_cur + 1) / (n_cur + 10), 6) q,
        |  round(((c_ref + 1) / (n_ref + 10) - (c_cur + 1) / (n_cur + 10))
        |    * ln(((c_ref + 1) / (n_ref + 10))
        |         / ((c_cur + 1) / (n_cur + 10))), 6) contrib
        |from c cross join t order by bin""".stripMargin,

    "ext_ema" ->
      """with x as (select user_id, event_id, value, epoch(ts) tsec
        |  from events where user_id <= 50),
        |r as (select user_id, value,
        |    cast(row_number() over (partition by user_id
        |      order by tsec desc, event_id desc) - 1 as double) age
        |  from x)
        |select user_id,
        |  round(sum(value * pow(0.8, age)) / sum(pow(0.8, age)), 4) ema,
        |  count(*) n_used
        |from r where age < 50
        |group by user_id order by user_id""".stripMargin,

    "ext_chisq" ->
      """with d as (select cast(floor(o_totalprice
        |      / pow(10, floor(log10(o_totalprice)))) as bigint) digit
        |  from orders where o_totalprice > 0),
        |o as (select digit, count(*) obs from d group by digit),
        |n as (select sum(obs) n from o)
        |select digit, obs,
        |  round(n * log10(1 + 1.0 / digit), 4) exp,
        |  round(pow(obs - n * log10(1 + 1.0 / digit), 2)
        |        / (n * log10(1 + 1.0 / digit)), 4) chi2
        |from o cross join n order by digit""".stripMargin,

    "ext_gini" ->
      """with s as (select o_custkey, sum(o_totalprice) x
        |  from orders group by o_custkey),
        |r as (select x, cast(row_number() over (order by x, o_custkey)
        |    as double) i from s)
        |select count(*) n, round(sum(x), 2) total,
        |  round((2.0 * sum(i * x)) / (count(*) * sum(x))
        |        - (count(*) + 1.0) / count(*), 6) gini
        |from r""".stripMargin,

    "ext_twap" ->
      """with x as (select user_id, event_id, value, epoch(ts) tsec
        |  from events where user_id <= 50),
        |d as (select user_id, value,
        |    lead(tsec) over (partition by user_id
        |      order by tsec, event_id) - tsec dt
        |  from x)
        |select user_id, round(sum(value * dt) / sum(dt), 4) twap,
        |  count(*) n_intervals
        |from d where dt is not null
        |group by user_id order by user_id""".stripMargin,

    "ext_basket" ->
      """with b as (select distinct l_orderkey bk, p_brand item
        |  from lineitem join part on l_partkey = p_partkey),
        |n as (select count(distinct bk) n_baskets from b),
        |ic as (select item, count(*) c from b group by item),
        |p as (select x.item a, y.item b, count(*) c_ab
        |  from b x join b y on x.bk = y.bk and x.item <> y.item
        |  group by 1, 2)
        |select a, b, c_ab,
        |  round(c_ab / n_baskets, 6) support,
        |  round(c_ab / ca.c, 4) confidence,
        |  round(c_ab * n_baskets / (ca.c * cb.c), 4) lift
        |from p join ic ca on a = ca.item join ic cb on b = cb.item
        |cross join n
        |order by c_ab desc, a, b limit 20""".stripMargin,

    "ext_rrf" ->
      """with toks as (select doc_id,
        |    unnest(list_filter(string_split(text, ' '), w -> w <> '')) w
        |  from documents),
        |dl as (select doc_id, count(*) dl from toks group by doc_id),
        |corpus as (select count(*) n_docs, avg(dl) avgdl from dl),
        |tf as (select doc_id, w, count(*) tf from toks
        |  where w in ('spark', 'table', 'hash') group by doc_id, w),
        |dfreq as (select w, count(*) df from tf group by w),
        |bm as (select doc_id, round(sum(
        |    ln(1 + (n_docs - df + cast(0.5 as double)) / (df + cast(0.5 as double)))
        |    * (tf * (cast(1.2 as double) + 1))
        |    / (tf + cast(1.2 as double)
        |       * (cast(0.25 as double) + cast(0.75 as double) * dl / avgdl))), 4) s
        |  from tf join dfreq using(w) join dl using(doc_id) cross join corpus
        |  group by doc_id),
        |cnt as (select w, count(*) c from toks group by w),
        |tot as (select cast(sum(c) as double) n from cnt),
        |lmc as (select t.doc_id, round(avg(-ln(cast(c as double) / n)), 4) s
        |  from toks t join cnt using(w) cross join tot
        |  where t.doc_id in (select doc_id from bm)
        |  group by t.doc_id),
        |r1 as (select doc_id, row_number() over (order by s desc, doc_id) rank
        |  from bm),
        |r2 as (select doc_id, row_number() over (order by s asc, doc_id) rank
        |  from lmc),
        |u as (select * from r1 union all select * from r2)
        |select doc_id, round(sum(1.0 / (60 + rank)), 6) rrf
        |from u group by doc_id
        |order by rrf desc, doc_id limit 20""".stripMargin,

    "ext_scale" ->
      """with x as (select vec_id, i pos, cast(embedding[i] as double) x
        |  from embeddings, unnest(range(1, len(embedding) + 1)) u(i)),
        |s as (select pos, avg(x) mu, stddev_pop(x) sd from x group by pos)
        |select vec_id,
        |  round(max(case when pos = 1 then (x - mu) / sd end), 4) z1,
        |  round(max(case when pos = 2 then (x - mu) / sd end), 4) z2,
        |  round(max(case when pos = 3 then (x - mu) / sd end), 4) z3,
        |  round(max(case when pos = 4 then (x - mu) / sd end), 4) z4
        |from x join s using(pos)
        |group by vec_id order by vec_id limit 100""".stripMargin,

    "ext_sparse_cos" ->
      """with tf as (select doc_id id, tok, count(*) tf from (
        |    select doc_id, unnest(list_filter(string_split(text, ' '),
        |      w -> w <> '')) tok from documents)
        |  group by 1, 2),
        |n as (select count(distinct doc_id) n from documents),
        |dft as (select tok, count(*) df from tf group by tok),
        |w as (select id, tf.tok, tf * ln(n.n / df) w
        |  from tf join dft using(tok), n),
        |nrm as (select id, sqrt(sum(w * w)) nrm from w group by id),
        |dots as (select a.id id_a, b.id id_b, sum(a.w * b.w) dot
        |  from w a join w b on a.tok = b.tok and a.id < b.id
        |  group by 1, 2),
        |cos as (select id_a, id_b, round(dot / (x.nrm * y.nrm), 4) cos
        |  from dots join nrm x on id_a = x.id join nrm y on id_b = y.id)
        |select id_a, id_b, cos from cos where cos >= 0.9
        |order by cos desc, id_a, id_b""".stripMargin,

    "ext_cdc_chunk" ->
      """with tok as (select doc_id,
        |    list_filter(string_split(text, ' '), w -> w <> '') tl
        |  from documents),
        |t2 as (select doc_id, i pos, tl[i] tok
        |  from tok, unnest(range(1, len(tl) + 1)) u(i)),
        |c as (select doc_id, pos, tok,
        |    sum(case when substring(sha256(tok), 1, 1) in ('0', '1')
        |        then 1 else 0 end)
        |      over (partition by doc_id order by pos
        |            rows unbounded preceding) cs
        |  from t2),
        |ch as (select doc_id, cs,
        |    sha256(string_agg(tok, ' ' order by pos)) h
        |  from c group by doc_id, cs),
        |cnt as (select h, count(*) n from ch group by h)
        |select doc_id, count(*) n_chunks,
        |  cast(sum(case when n > 1 then 1 else 0 end) as bigint) n_shared
        |from ch join cnt using(h)
        |group by doc_id order by doc_id limit 100""".stripMargin,

    "ext_kanon" ->
      """select c_nationkey, c_mktsegment, count(*) n,
        |  round(sum(c_acctbal), 2) bal
        |from customer
        |group by c_nationkey, c_mktsegment
        |having count(*) >= greatest(2, floor((select count(*) from customer) / 100))
        |order by c_nationkey, c_mktsegment""".stripMargin,

    "ext_kcore" ->
      """with pairs as (select distinct
        |    'S' || l_suppkey sn, 'P' || l_partkey pn from lineitem),
        |edges as (select sn src, pn dst from pairs
        |  union all select pn, sn from pairs),
        |n0 as (select distinct src id from edges),
        |d1 as (select src, count(*) c from edges
        |  join n0 a on src = a.id join n0 b on dst = b.id group by src),
        |n1 as (select src id from d1 where c >= 24),
        |d2 as (select src, count(*) c from edges
        |  join n1 a on src = a.id join n1 b on dst = b.id group by src),
        |n2 as (select src id from d2 where c >= 24),
        |d3 as (select src, count(*) c from edges
        |  join n2 a on src = a.id join n2 b on dst = b.id group by src),
        |n3 as (select src id from d3 where c >= 24),
        |summ as (
        |  select 0 r, count(*) n,
        |    sum(case when id like 'S%' then 1 else 0 end) n_s,
        |    sum(cast(substring(id, 2) as bigint)) sfx from n0
        |  union all select 1, count(*),
        |    sum(case when id like 'S%' then 1 else 0 end),
        |    sum(cast(substring(id, 2) as bigint)) from n1
        |  union all select 2, count(*),
        |    sum(case when id like 'S%' then 1 else 0 end),
        |    sum(cast(substring(id, 2) as bigint)) from n2
        |  union all select 3, count(*),
        |    sum(case when id like 'S%' then 1 else 0 end),
        |    sum(cast(substring(id, 2) as bigint)) from n3)
        |select cast(r as bigint) round, n, cast(n_s as bigint) n_s,
        |  cast(sfx as bigint) sum_sfx
        |from summ order by round""".stripMargin,

    "ext_entropy" ->
      """with c as (select doc_id, tok, count(*) c
        |  from (select doc_id, unnest(list_filter(string_split(text, ' '),
        |      w -> w <> '')) tok from documents)
        |  group by 1, 2)
        |select doc_id, cast(sum(c) as bigint) n_tok,
        |  round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 4) entropy
        |from c group by doc_id order by doc_id limit 100""".stripMargin,

    "ext_decontaminate" ->
      """with tok as (select doc_id,
        |    list_filter(string_split(text, ' '), w -> w <> '') tl
        |  from documents),
        |ng as (select distinct doc_id, array_to_string(tl[i:i+3], ' ') g
        |  from tok, unnest(range(1, len(tl) - 2)) u(i) where len(tl) >= 4),
        |ev as (select distinct g from ng where doc_id % 53 = 0)
        |select doc_id, count(*) n_hit from ng
        |where doc_id % 53 <> 0 and g in (select g from ev)
        |group by doc_id order by doc_id""".stripMargin,

    "ext_repetition" ->
      """with tok as (select doc_id,
        |    list_filter(string_split(text, ' '), w -> w <> '') tl
        |  from documents),
        |g3 as (select doc_id, array_to_string(tl[i:i+2], ' ') g
        |  from tok, unnest(range(1, len(tl) - 1)) u(i) where len(tl) >= 3),
        |c3 as (select doc_id, g, count(*) c from g3 group by 1, 2),
        |a3 as (select doc_id, cast(sum(c) as bigint) n3,
        |    cast(sum(case when c > 1 then c else 0 end) as bigint) dup3
        |  from c3 group by 1),
        |g2 as (select doc_id, array_to_string(tl[i:i+1], ' ') g
        |  from tok, unnest(range(1, len(tl))) u(i) where len(tl) >= 2),
        |c2 as (select doc_id, g, count(*) c from g2 group by 1, 2),
        |a2 as (select doc_id, cast(sum(c) as bigint) n2,
        |    cast(max(c) as bigint) top2
        |  from c2 group by 1)
        |select a3.doc_id, n3, dup3, round(dup3 / n3, 4) dup3_frac,
        |  n2, top2, round(top2 / n2, 4) top2_frac
        |from a3 join a2 using(doc_id) order by a3.doc_id limit 100""".stripMargin,

    "ext_semdedup" ->
      """with u as (select vec_id, embedding from embeddings
        |  union all
        |  select vec_id + 1000000, embedding from embeddings
        |  where vec_id % 29 = 0),
        |n as (select vec_id, embedding e,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> cast(x as double) * x))) nrm
        |  from u),
        |p as (select a.vec_id keeper, b.vec_id dup_id,
        |    list_sum(list_transform(a.e,
        |      (x, i) -> cast(x as double) * b.e[i])) / (a.nrm * b.nrm) cos
        |  from n a join n b on a.vec_id < b.vec_id)
        |select keeper, dup_id, round(cos, 4) cos from p
        |where cos >= 0.99 order by keeper""".stripMargin,

    "ext_mixture" ->
      """with q as (select * from (values ('src0', 24), ('src1', 8),
        |    ('src2', 8)) t(src, qt)),
        |r as (select doc_id, source,
        |    row_number() over (partition by source
        |      order by sha256(cast(doc_id as varchar)), doc_id) rn, qt
        |  from documents join q on source = q.src)
        |select doc_id, source from r where rn <= qt order by doc_id""".stripMargin,

    "ext_bfs" ->
      """with recursive pairs as (select distinct
        |    'S' || l_suppkey sn, 'P' || l_partkey pn from lineitem),
        |edges as (select sn src, pn dst from pairs
        |  union all select pn, sn from pairs),
        |walk(id, hops) as (
        |  select 'S1', 0
        |  union
        |  select e.dst, w.hops + 1 from walk w
        |  join edges e on e.src = w.id where w.hops < 3),
        |d as (select id, min(hops) hops from walk group by id)
        |select cast(hops as bigint) hops, count(*) n,
        |  cast(sum(case when id like 'S%' then 1 else 0 end) as bigint) n_s,
        |  cast(sum(cast(substring(id, 2) as bigint)) as bigint) sum_sfx
        |from d group by hops order by hops""".stripMargin)
}
