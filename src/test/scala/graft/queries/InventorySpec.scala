package graft.queries

import graft.{SparkFixture, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Closes the remaining SURVEY §2 inventory rows that are neither
  * oracle queries nor property suites of their own: A-3 approximate
  * distinct (tolerance vs exact, excluded from hashing by design),
  * S-4 CSV source, S-5 parquet sink round-trip.
  */
class InventorySpec extends AnyFunSuite with SparkFixture {

  test("A-3: approx_count_distinct within 5% of exact per event_type") {
    val e = Tables.table(spark, sf001, "events")
    val both = e.groupBy("event_type")
      .agg(countDistinct("user_id").as("exact"),
        approx_count_distinct("user_id", 0.02).as("approx"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      val exact = r.getLong(1).toDouble
      val approx = r.getLong(2).toDouble
      assert(math.abs(approx - exact) / exact <= 0.05,
        s"${r.getString(0)}: approx $approx vs exact $exact")
    }
  }

  test("A-3b: percentile_approx within 1% of exact percentile") {
    val o = Tables.table(spark, sf001, "orders")
    val rows = o.groupBy("o_orderstatus")
      .agg(expr("percentile(o_totalprice, 0.5)").as("exact"),
        expr("percentile_approx(o_totalprice, 0.5, 10000)").as("approx"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getDouble(1); val approx = r.getDouble(2)
      assert(math.abs(approx - exact) / exact <= 0.01,
        s"${r.getString(0)}: approx $approx vs exact $exact")
    }
  }

  test("A-3c: HLL sketches built per group union-merge to a global estimate") {
    // The 100 TB distinct-count pattern: per-partition/per-group sketches
    // are mergeable, so re-aggregation never touches raw rows again.
    val e = Tables.table(spark, sf001, "events")
    val perType = e.groupBy("event_type").agg(expr("hll_sketch_agg(user_id)").as("sk"))
    val merged = perType
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("du"))
      .collect()(0).getLong(0)
    val exact = e.agg(countDistinct("user_id")).collect()(0).getLong(0)
    assert(math.abs(merged - exact).toDouble / exact <= 0.05,
      s"merged HLL $merged vs exact $exact")
  }

  test("S-4/S-5: CSV source and parquet sink round-trip a query result") {
    val dir = java.nio.file.Files.createTempDirectory("io_spec").toString
    val b1 = ContractQueries.b1(spark, sf0001)
    b1.write.mode("overwrite").option("header", "true").csv(s"$dir/csv")
    b1.write.mode("overwrite").parquet(s"$dir/parquet")

    val fromParquet = spark.read.parquet(s"$dir/parquet")
    // parquet round-trips name+type; nullability is always true on read
    assert(fromParquet.schema.map(f => (f.name, f.dataType)) ==
      b1.schema.map(f => (f.name, f.dataType)))
    assert(fromParquet.orderBy("l_returnflag", "l_linestatus").collect().toSeq ==
      b1.collect().toSeq)

    val fromCsv = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(s"$dir/csv")
    assert(fromCsv.count() == b1.count())
    assert(fromCsv.columns.toSeq == b1.columns.toSeq)
  }

  test("F-7: from_json to MapType, map_keys, element access") {
    val e = Tables.table(spark, sf001, "events")
    val m = e.select(col("event_id"),
        from_json(col("props"), org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.StringType)).as("pm"))
      .select(col("event_id"), map_keys(col("pm")).as("ks"),
        element_at(col("pm"), "k").as("k"))
      .limit(20).collect()
    assert(m.nonEmpty)
    assert(m.forall(r => r.getSeq[String](1).contains("k")))
    assert(m.forall(r => r.getString(2) != null))
  }

  test("S-2: raw text corpus source feeds the text operators") {
    val dir = java.nio.file.Files.createTempDirectory("corpus_txt")
    java.nio.file.Files.writeString(dir.resolve("corpus.txt"),
      "alpha beta alpha\ngamma beta alpha\n")
    val corpus = spark.read.text(dir.toString)
      .select(monotonically_increasing_id().as("doc_id"), col("value").as("text"))
    val vocab = graft.text.Vocabulary.build(corpus, minCount = 1).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(vocab == Map("alpha" -> 3L, "beta" -> 2L, "gamma" -> 1L))
    val pairs = graft.text.Cooccurrence.wordPairs(corpus, window = 1)
    assert(pairs.count() > 0)
  }

  test("X-5: Observation metrics ride along a query at zero extra passes") {
    import org.apache.spark.sql.Observation
    val obs = Observation("b1_metrics")
    val li = Tables.table(spark, sf0001, "lineitem")
      .observe(obs, count(lit(1)).as("rows_seen"),
        sum(col("l_quantity")).as("qty_seen"))
    val n = li.groupBy("l_returnflag").count().collect().map(_.getLong(1)).sum
    val m = obs.get
    assert(m("rows_seen") == n)
    assert(m("qty_seen").asInstanceOf[Double] > 0)
  }

  test("T-11: analogy query returns k rows excluding the inputs") {
    val docs = Tables.table(spark, sf0001, "documents")
    val model = new graft.glove.Glove(dim = 8, window = 2, minCount = 5,
      iterations = 5, numPartitions = 4).fit(docs)
    val words = model.embeddings.select("word").collect().map(_.getString(0))
    val Array(a, b, c) = words.take(3)
    val out = model.analogy(a, b, c, k = 3).collect()
    assert(out.length == 3)
    assert(!out.map(_.getString(0)).toSet.exists(Set(a, b, c)))
  }
}
