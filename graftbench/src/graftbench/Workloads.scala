package graftbench

import graft.SparkEntry
import graft.glove.{Glove, GloveBlockTrainer, GloveModel}
import graft.ops.{ConnectedComponents, Dedup}
import graft.pipeline.CorpusPipeline
import graft.text.{Cooccurrence, TextAnalysis, Vocabulary}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import java.security.MessageDigest
import java.util.SplittableRandom

/** GloVe training on a seeded Zipf corpus with `Glove.fit`'s automatic
  * trainer choice (V is far below the block threshold, so the broadcast
  * trainer runs), then top-10 neighbour queries on the trained model.
  * Traced runs also run the block path's layers on the same corpus:
  * co-occurrence by join and the block trainer.
  */
final class GloveWorkload extends Workload {
  val nDocs = 2000
  val ranks = 2000
  val minLen = 20
  val maxLen = 60
  val window = 10
  val minCount = 5L
  val dim = 50
  val iterations = 8
  // Each block-trainer epoch is 4 mini-batch join rounds, seconds of job
  // scheduling on a few cores whatever the corpus size.
  val blockIterations = 2
  val callsPerCycle = 10

  private var texts: Array[String] = _
  private var docs: DataFrame = _
  private var expectedVocab: Map[String, Long] = _
  private var probes: Array[String] = _
  private var rng: SplittableRandom = _
  // the last fitted model with its collected embeddings
  private var current: Option[(GloveModel, Map[String, Array[Float]])] = None

  def prepare(run: Run): Unit = {
    val spark = run.spark
    import spark.implicits._
    texts = Corpus.documents(run.seed, nDocs, ranks, minLen, maxLen)
    docs = texts.toSeq.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .persist(StorageLevel.MEMORY_AND_DISK)
    run.verify(docs.count() == nDocs, "corpus row count")
    expectedVocab = texts.iterator.flatMap(_.split(" ")).toSeq.groupBy(identity)
      .map { case (w, ws) => w -> ws.length.toLong }.filter(_._2 >= minCount)
    // probe words: seeded draws among the 200 most frequent ranks
    rng = new SplittableRandom(run.seed ^ 0x5eedL)
    probes = (0 until 200).map(Corpus.spell).filter(expectedVocab.contains).toArray
  }

  private def parallelism = docs.sparkSession.sparkContext.defaultParallelism

  /** Pair instances the co-occurrence kernel emits over kept tokens. */
  private def emittedPairs(): Long = texts.iterator.map { t =>
    val n = t.split(" ").count(expectedVocab.contains).toLong
    (0L until n).map(i => math.min(window.toLong, n - 1 - i)).sum * 2
  }.sum

  /** The layer calls of both trainer paths, each as its own span. */
  override def tracedLayers(run: Run): Unit = {
    val spark = run.spark
    import spark.implicits._
    val vocabRows = run.span("text.vocab")(Vocabulary.build(docs, minCount).collect())
    run.values("text.vocab_size") = vocabRows.length.toDouble
    val ids = vocabRows.map(r => (r.getString(0), r.getLong(2).toInt - 1))
    val nnz = run.span("text.cooc")(Cooccurrence.matrix(docs, ids.toMap, window).count())
    run.values("text.cooc_nnz") = nnz.toDouble
    run.values("text.cooc_combine_ratio") = nnz.toDouble / emittedPairs()
    val cooc = Cooccurrence.matrixViaJoin(docs, ids.toSeq.toDF("w", "id0"), window, "doc_id")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nnzJoin = run.span("text.cooc_join")(cooc.count())
    run.op("text.cooc_join")(run.verify(nnzJoin == nnz, s"join path has $nnzJoin cells, broadcast path $nnz"))
    val (nVecs, losses) = run.span("glove.block_train") {
      val (vecs, loss) = new GloveBlockTrainer(dim, 100.0, 0.75, 0.05, blockIterations,
        parallelism, 42L).train(cooc, ids.length)
      (vecs.count(), loss)
    }
    run.op("glove.block_train")(run.verify(nVecs == ids.length && losses.length == blockIterations &&
      losses.sliding(2).forall(p => p.length < 2 || p(1) < p(0)),
      s"block trainer: $nVecs vectors, loss ${losses.mkString(",")}"))
    cooc.unpersist()
  }

  def headline(run: Run): Unit = {
    current.foreach(_._1.embeddings.unpersist())
    current = run.op("glove.fit") {
      val t0 = System.nanoTime()
      val model = run.span("glove.fit") {
        val m = new Glove(dim = dim, window = window, minCount = minCount,
          iterations = iterations, numPartitions = parallelism, seed = 42L).fit(docs)
        m.embeddings.persist(StorageLevel.MEMORY_AND_DISK).count()
        m
      }
      val fitS = (System.nanoTime() - t0) / 1e9
      val loss = model.lossHistory
      run.verify(loss.length == iterations, s"loss history has ${loss.length} entries, want $iterations")
      run.verify(loss.forall(x => !x.isNaN && !x.isInfinite), "non-finite loss")
      run.verify(loss.sliding(2).forall(p => p.length < 2 || p(1) < p(0)),
        s"loss not decreasing at every epoch: ${loss.mkString(",")}")
      val emb = model.embeddings.select("word", "vec").collect()
        .map(r => r.getString(0) -> r.getSeq[Float](1).toArray).toMap
      run.verify(emb.keySet == expectedVocab.keySet,
        s"embedding vocabulary has ${emb.size} words, want ${expectedVocab.size}")
      run.verify(emb.values.forall(v => v.length == dim && v.forall(x => !x.isNaN)), "bad vector")
      run.sample("op_s", fitS)
      run.sample("final_loss", loss.last)
      (model, emb)
    }
  }

  /** Neighbour queries on the last fitted model (none if the fit failed). */
  def calls(run: Run, n: Int): Unit = current.foreach { case (model, emb) =>
    (0 until n).foreach { _ =>
      val word = probes(rng.nextInt(probes.length))
      run.op("glove.neighbors") {
        val t0 = System.nanoTime()
        val got = run.span("glove.neighbors")(model.findSynonyms(word, 10).collect())
        val ms = (System.nanoTime() - t0) / 1e6
        checkNeighbors(run, word, got, emb)
        run.sample("call_ms", ms)
      }
    }
  }

  // fit times still fall over the first three fits while the trainer's
  // AdaGrad loop is being compiled
  def warmup(run: Run): Unit = { calls(run, 3); headline(run); calls(run, 3); headline(run) }

  /** Top-10 against a brute-force cosine ranking over the collected
    * embeddings. Positions may differ only between near-equal scores.
    */
  private def checkNeighbors(run: Run, word: String, got: Array[Row],
      emb: Map[String, Array[Float]]): Unit = {
    val p = emb(word)
    def cos(v: Array[Float]): Double = {
      var d = 0.0; var a = 0.0; var b = 0.0; var k = 0
      while (k < v.length) { d += v(k) * p(k); a += v(k) * v(k); b += p(k) * p(k); k += 1 }
      d / (math.sqrt(a) * math.sqrt(b))
    }
    val want = emb.iterator.filter(_._1 != word).map { case (w, v) => (w, cos(v)) }.toSeq
      .sortBy { case (w, s) => (-s, w) }.take(10)
    run.verify(got.length == want.length, s"$word: ${got.length} neighbours, want ${want.length}")
    got.zip(want).foreach { case (r, (w, s)) =>
      val gw = r.getString(0); val gs = r.getDouble(1)
      run.verify(math.abs(gs - cos(emb(gw))) < 1e-5, s"$word: score of $gw is $gs, want ${cos(emb(gw))}")
      run.verify(gw == w || math.abs(gs - s) < 1e-5, s"$word: neighbour $gw ($gs), want $w ($s)")
    }
  }
}

/** The corpus-cleaning funnel on a seeded corpus with planted exact and
  * near copies. Its short calls are the B1–B10 analytics queries, which
  * share the session but never touch the corpus.
  */
final class DedupWorkload(dataDir: String) extends Workload {
  val nDocs = 500
  val ranks = 5000
  val callsPerCycle = 15

  private val queries = new BQueries(dataDir)
  private var docs: DataFrame = _

  def prepare(run: Run): Unit = {
    val spark = run.spark
    import spark.implicits._
    val texts = Corpus.withPlantedDuplicates(Corpus.documents(run.seed, nDocs, ranks, 20, 60))
    docs = texts.toSeq.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .persist(StorageLevel.MEMORY_AND_DISK)
    run.verify(docs.count() == nDocs, "corpus row count")
    queries.prepare(run)
  }

  /** The pipeline's stages as separate layer calls, each its own span. */
  override def tracedLayers(run: Run): Unit = {
    val (_, wantExact, wantNear) = Corpus.expectedFunnel(nDocs)
    val clean = run.span("text.clean") {
      val c = TextAnalysis.qualityFeatures(
          docs.withColumn("text", TextAnalysis.scrub(col("text")))
            .withColumn("__lang", TextAnalysis.langId(col("text"))), "text")
        .filter(col("quality") >= 0.0)
        .persist(StorageLevel.MEMORY_AND_DISK)
      c.count()
      c
    }
    val kept = run.span("ops.exact_dedup") {
      val keepers = Dedup.exactAssignKeepers(clean).filter(!col("is_dup")).select("doc_id")
      val k = clean.join(keepers, Seq("doc_id"), "left_semi").persist(StorageLevel.MEMORY_AND_DISK)
      k.count()
      k
    }
    run.op("ops.exact_dedup")(run.verify(kept.count() == wantExact, "exact-dedup survivors"))
    val sets = Dedup.shingles(col("text"), 3)
    val candidates = Dedup.minhashCandidatesFromSets(kept, "doc_id", sets, 64, 2).count()
    val pairs = run.span("ops.minhash_pairs") {
      val p = Dedup.minhashNearDupPairsFromSets(kept, "doc_id", sets, 0.5, 64, 2)
        .persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      p
    }
    val nPairs = pairs.count()
    run.op("ops.minhash_pairs")(run.verify(nPairs == wantExact - wantNear, s"$nPairs near pairs"))
    run.values("ops.lsh_candidates") = candidates.toDouble
    run.values("ops.lsh_precision") = (wantExact - wantNear).toDouble / candidates
    val comps = run.span("ops.components") {
      ConnectedComponents.components(pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
        .select("component").distinct().count()
    }
    run.op("ops.components")(run.verify(comps == wantExact - wantNear, s"$comps components"))
    pairs.unpersist(); kept.unpersist(); clean.unpersist()
  }

  def headline(run: Run): Unit = {
    val (n, wantExact, wantNear) = Corpus.expectedFunnel(nDocs)
    run.op("pipeline.run") {
      val t0 = System.nanoTime()
      val (out, rep) = run.span("pipeline.run")(new CorpusPipeline(shingleNgram = 3).run(docs))
      val s = (System.nanoTime() - t0) / 1e9
      try {
        run.verify(rep.input == n && rep.afterQuality == n, s"funnel head $rep")
        run.verify(rep.afterExactDedup == wantExact, s"exact dedup kept ${rep.afterExactDedup}, want $wantExact")
        run.verify(rep.afterNearDedup == wantNear, s"near dedup kept ${rep.afterNearDedup}, want $wantNear")
        val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
        run.verify(ids == (0L until nDocs).filter(i => Corpus.baseOf(i) == i).toSet, "surviving ids")
      } finally out.unpersist()
      run.sample("op_s", s)
    }
  }

  def calls(run: Run, n: Int): Unit = (0 until n).foreach(_ => queries.next(run))

  // one cold pass of B1–B10, whose results go to the DuckDB oracle check,
  // and a second pipeline run: the first two runs are still being compiled
  def warmup(run: Run): Unit = { calls(run, queries.names.length); headline(run) }
}

/** Passes of B1–B10 on their own: a pass is the headline operation and
  * each query in it a short call.
  */
final class AnalyticsWorkload(dataDir: String) extends Workload {
  val callsPerCycle = 0
  private val queries = new BQueries(dataDir)

  def prepare(run: Run): Unit = queries.prepare(run)

  def headline(run: Run): Unit = {
    val times = queries.names.flatMap(_ => queries.next(run))
    if (times.length == queries.names.length) run.sample("op_s", times.sum)
  }

  def calls(run: Run, n: Int): Unit = ()

  def warmup(run: Run): Unit = ()
}

/** The B1–B10 headline queries (`SparkEntry.queries`) over sf0.1-sized
  * tables, issued one at a time as a sequence of passes, each pass in a
  * seeded order. Every result is hashed and must hash the same as the
  * query's first result, which is also written out for the DuckDB
  * oracle comparison.
  */
final class BQueries(dataDir: String) {
  val names: Seq[String] = (1 to 10).map(i => s"b$i")
  val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  private var rng: SplittableRandom = _
  private val reference = scala.collection.mutable.Map.empty[String, String]
  private var order: Array[String] = Array.empty
  private var pos = 0

  def prepare(run: Run): Unit = {
    tables.foreach(t => run.verify(graft.Tables.table(run.spark, dataDir, t).count() > 0, s"empty $t"))
    rng = new SplittableRandom(run.seed)
    val json = names.map { n =>
      "\"" + n + "\":\"" + SparkEntry.oracleSql(n).flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case c if c < ' ' => " "
        case c => c.toString
      } + "\""
    }.mkString("{", ",", "}")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"${run.workDir}/analytics"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"${run.workDir}/analytics/oracle_sql.json"),
      json.getBytes("UTF-8"))
  }

  /** Order-insensitive digest of a result, doubles at 6 decimals. */
  private def digest(rows: Array[Row]): String = {
    def cell(v: Any): String = v match {
      case null => "NULL"
      case d: Double => f"$d%.6f"
      case f: Float => f"${f.toDouble}%.6f"
      case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
      case o => o.toString
    }
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(_.toSeq.map(cell).mkString("|")).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Runs and checks the next query of the sequence; its latency is a
    * `call_ms` sample. Returns its wall time in seconds, None on failure.
    */
  def next(run: Run): Option[Double] = {
    if (pos == order.length) {
      order = names.toArray
      var i = order.length - 1
      while (i > 0) { val j = rng.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t; i -= 1 }
      pos = 0
    }
    val name = order(pos)
    pos += 1
    run.op(name) {
      val t0 = System.nanoTime()
      val (df, rows) = run.span(s"queries.$name") {
        val df = SparkEntry.queries(name)(run.spark, dataDir)
        (df, df.collect())
      }
      val s = (System.nanoTime() - t0) / 1e9
      val d = digest(rows)
      if (!reference.contains(name)) {
        reference(name) = d
        run.spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema).coalesce(1)
          .write.mode("overwrite").parquet(s"${run.workDir}/analytics/$name")
      }
      run.verify(reference(name) == d, s"$name result differs from its first result")
      run.sample("call_ms", s * 1e3)
      s
    }
  }
}
