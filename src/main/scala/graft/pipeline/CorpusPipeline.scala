package graft.pipeline

import graft.ops.{ConnectedComponents, Dedup, Sampling}
import graft.text.{Decontamination, TextAnalysis}
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Per-stage surviving-document counts from a pipeline run. An optional
  * stage that is disabled reports the same count as its predecessor
  * (afterRepetition == afterQuality, afterLm == afterRepetition,
  * afterDecontam == afterLm).
  */
case class PipelineReport(
    input: Long, afterScrub: Long, afterLang: Long, afterQuality: Long,
    afterRepetition: Long, afterLm: Long, afterDecontam: Long,
    afterExactDedup: Long, afterNearDedup: Long, output: Long,
    // docs whose TEXT was rewritten by the optional substring-level
    // span-dedup stage (a 1:1 rewrite — row counts above are unaffected)
    spanRewritten: Long = 0L)

/** End-to-end training-corpus preparation: the individual operators
  * (each independently DuckDB-oracled — see ExtensionQueries) composed
  * into the standard cleaning funnel:
  *
  *   scrub → language filter → quality filter → optional repetition
  *   filter → optional LM filter → optional eval-set decontamination →
  *   exact dedup → MinHash near-dedup → optional per-language cap
  *
  * The repetition stage is the Gopher-style cut: docs whose duplicated-
  * 3-gram occurrence fraction exceeds `maxDup3Frac` (template/generated
  * text) are dropped. The LM stage is the CCNet-style perplexity cut at
  * order 1: docs whose mean −ln p(token) under the corpus' own unigram
  * distribution exceeds `maxLmScore` (rare-token soup) are dropped.
  * Decontamination drops docs sharing any `contamNgram`-gram with
  * `evalCorpus` — the test-set-leakage guard; the eval n-gram set is
  * tiny and broadcasts, so the stage's only aggregate is the per-doc
  * hit count.
  *
  * Every stage is a narrow projection or an already-scale-proven op.
  * Near-dup removal is cluster-based: qualifying pairs become edges,
  * ConnectedComponents labels each duplicate cluster with its minimum
  * doc_id, and every non-minimum member is dropped — so transitive
  * chains (a~b, b~c with a≁c) still collapse to one representative,
  * which greedy pair-dropping only guarantees for pairwise-similar
  * cliques.
  *
  * Stage counts ride the real passes as `Observation` (CollectMetrics)
  * aggregates where possible, and the stage boundaries are persisted in
  * a hand-over-hand chain so every stage of the funnel executes exactly
  * once: each ENABLED optional stage derives its keep-set off the
  * previous stage's cache, joins, persists, counts (one action), and
  * only then releases the predecessor. Disabled stages cost nothing —
  * with all options off the funnel runs the same three actions as
  * before (scored, exactKept, out).
  *
  * (The first cut of this pipeline issued five uncached count() actions,
  * which re-executed the whole upstream funnel per stage — the near-dup
  * join alone ran twice, and at 100 TB the multiplier applies to the
  * dominant scrub/langid/quality cost. CorpusPipelineSpec pins
  * exactly-once execution of the text stages with a row-level
  * accumulator.)
  *
  * The returned DataFrame is persisted and already materialized — use it
  * (typically `out.write...`) and call `out.unpersist()` when done; no
  * intermediate stays cached beyond run().
  */
class CorpusPipeline(
    val languages: Set[String] = Set.empty, // empty = keep all
    val minQuality: Double = 0.0,
    val maxDup3Frac: Option[Double] = None, // None = repetition filter off
    val maxLmScore: Option[Double] = None, // None = LM filter off
    val evalCorpus: Option[DataFrame] = None, // None = decontamination off
    val contamNgram: Int = 8,
    val nearDupThreshold: Double = 0.5,
    val capPerLanguage: Option[Int] = None,
    // near-dup similarity unit: 1 = unigram token sets (cheap, fine for
    // natural vocabularies), n>1 = n-gram shingles — the production
    // discipline when the vocabulary is small relative to doc length
    // (unigram SETS of such corpora are near-identical across docs, so
    // the true pair graph is quadratic regardless of engine; shingles
    // restore a discriminative similarity, see the BASELINE.md caveat)
    val shingleNgram: Int = 1,
    // substring-level dedup (E-477, Lee et al. shape): Some(L) rewrites
    // every SURVIVING doc, removing token spans >= L shared verbatim
    // with a lower-id survivor — the stage that catches long quoted/
    // boilerplate blocks whole-doc near-dedup can't (doc-level Jaccard
    // stays low). Runs AFTER near-dedup so removed docs never donate
    // spans; None = off.
    val spanDedupMinTokens: Option[Int] = None) extends Serializable {

  def run(documents: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): (DataFrame, PipelineReport) = {
    val obsInput = Observation()
    val obsLang = Observation()
    val obsNear = Observation()

    val scrubbed = documents
      .observe(obsInput, count(lit(1)).as("n"))
      .withColumn(textCol, TextAnalysis.scrub(col(textCol)))

    val withLang = scrubbed
      .withColumn("__lang", TextAnalysis.langId(col(textCol)))
    val langFiltered =
      if (languages.isEmpty) withLang
      else withLang.filter(col("__lang").isin(languages.toSeq: _*))

    val scored = TextAnalysis.qualityFeatures(
        langFiltered.observe(obsLang, count(lit(1)).as("n")), textCol)
      .filter(col("quality") >= minQuality)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val afterQuality = scored.count() // action 1
    val input = obsInput.get("n").asInstanceOf[Long]
    val afterScrub = input // scrub is 1:1, no rows dropped
    val afterLang = obsLang.get("n").asInstanceOf[Long]

    // Hand-over-hand step for optional filter stages: persist the
    // filtered successor, materialize it with ONE count action (its
    // keep-set derivation reads only the predecessor's cache), then
    // release the predecessor.
    def step(prev: DataFrame, next: DataFrame): (DataFrame, Long) = {
      val p = next.persist(StorageLevel.MEMORY_AND_DISK)
      val n = p.count()
      prev.unpersist()
      (p, n)
    }

    // Both optional text filters drop via ANTI-join on the FAILING set,
    // not semi-join on the passing set: repetitionSignals produces no
    // row for docs with <3 tokens (no trigram exists) and
    // unigramLogScore none for empty-text docs — a missing signal must
    // mean "nothing to measure, passes", not silent data loss.
    val (repKept, afterRep) = maxDup3Frac match {
      case Some(maxR) =>
        val drop = TextAnalysis.repetitionSignals(scored, idCol, textCol)
          .filter(col("dup3_frac") > maxR)
          .select(idCol)
        step(scored, scored.join(drop, Seq(idCol), "left_anti"))
      case None => (scored, afterQuality)
    }

    val (lmKept, afterLm) = maxLmScore match {
      case Some(maxS) =>
        val drop = TextAnalysis.unigramLogScore(repKept, idCol, textCol)
          .filter(col("lm_score") > maxS)
          .select(idCol)
        step(repKept, repKept.join(drop, Seq(idCol), "left_anti"))
      case None => (repKept, afterRep)
    }

    val (cleanKept, afterDecontam) = evalCorpus match {
      case Some(evalDocs) =>
        val hit = Decontamination.contaminated(lmKept, evalDocs,
          contamNgram, idCol, textCol).select(idCol)
        step(lmKept, lmKept.join(hit, Seq(idCol), "left_anti"))
      case None => (lmKept, afterLm)
    }

    val keeperIds = Dedup.exactAssignKeepers(cleanKept, idCol, textCol)
      .filter(!col("is_dup"))
      .select(idCol)
    val (exactKept, afterExact) =
      step(cleanKept, cleanKept.join(keeperIds, Seq(idCol), "left_semi"))

    // cluster the near-dup graph at SET level (never expanded member
    // pairs — measured 7x funnel wall-time at sf0.1 otherwise); drop
    // every non-minimum cluster member. components() eagerly
    // checkpoints, so the anti-join below never re-derives the funnel.
    val dupIds = Dedup.nearDupComponents(
        exactKept, idCol,
        if (shingleNgram <= 1) array_distinct(split(col(textCol), " "))
        else Dedup.shingles(col(textCol), shingleNgram),
        threshold = nearDupThreshold, bands = 64, rowsPerBand = 2)
      .filter(col(idCol) =!= col("component"))
      .select(idCol)
    val nearKept = exactKept.join(dupIds, Seq(idCol), "left_anti")
      .observe(obsNear, count(lit(1)).as("n"))

    val out = (capPerLanguage match {
      case Some(k) => Sampling.stratifiedK(nearKept, col("__lang"), col(idCol), k)
      case None => nearKept
    }).persist(StorageLevel.MEMORY_AND_DISK)
    val outCount = out.count() // final action
    val afterNear = obsNear.get("n").asInstanceOf[Long]
    exactKept.unpersist()

    // Optional substring-level span dedup (E-477): 1:1 text rewrite over
    // the SURVIVORS — reads only the persisted `out`, so no funnel stage
    // re-executes; the rewrite side is persisted for its own two
    // consumers (count + join) and released before returning.
    val (finalOut, finalCount, spanRewritten) = spanDedupMinTokens match {
      case Some(minL) =>
        // Plans.pin FIRST: by here the funnel's logical plan is deep
        // (every enabled optional stage adds a persist-join layer), and
        // the span machinery references it several more times (gram
        // explode, df-cap join, rewrite's two joins) — Catalyst
        // re-optimizes the MULTIPLIED plan on every span-stage action,
        // measured as minutes of pure driver planning (main thread
        // spinning in transformDownWithPruning) with both optional
        // filters enabled at battery scale. Pinning truncates lineage +
        // stats to the cached rows, the same discipline as the peel
        // loops; `out` itself is released right after.
        val outP = graft.ops.Plans.pin(out)
        out.unpersist()
        val merged = graft.ops.SpanDedup.mergeSpans(
          graft.ops.SpanDedup.removalSpans(outP, idCol, textCol, minL))
        val rewritten = graft.ops.SpanDedup.rewrite(outP, merged, idCol, textCol)
          .select(col("doc_id").as(idCol), col("new_text"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val nRewritten = rewritten.count()
        val o2 = outP.join(rewritten, Seq(idCol), "left")
          .withColumn(textCol, coalesce(col("new_text"), col(textCol)))
          .drop("new_text")
          .persist(StorageLevel.MEMORY_AND_DISK)
        val c2 = o2.count()
        rewritten.unpersist()
        (o2, c2, nRewritten)
      case None => (out, outCount, 0L)
    }

    (finalOut, PipelineReport(input, afterScrub, afterLang, afterQuality,
      afterRep, afterLm, afterDecontam, afterExact, afterNear, finalCount,
      spanRewritten))
  }
}
