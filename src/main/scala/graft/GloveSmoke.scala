package graft

import graft.glove.Glove
import org.apache.spark.sql.SparkSession

/** Drives the full GloVe pipeline (vocab → co-occurrence → training →
  * neighbor query) through the public API on the documents fixture,
  * on both the broadcast and the block-partitioned trainer.
  */
object GloveSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = Tables.table(spark, sfDir, "documents")
    // a parameter budget of 0 sends the fixture's vocabulary to the block trainer
    for ((label, budget) <- Seq("broadcast" -> Glove.MaxBroadcastParams, "block" -> 0L)) {
      val model = new Glove(dim = 16, window = 3, minCount = 5,
        iterations = 10, numPartitions = 8).fit(docs, "text", budget)
      val v = model.embeddings.count()
      val l = model.lossHistory
      val top = model.findSynonyms("data", 3).collect()
        .map(r => f"${r.getString(0)}:${r.getDouble(1)}%.3f").mkString(", ")
      println(f"GLOVE $label%-9s vocab=$v loss ${l.head}%.4f -> ${l.last}%.4f " +
        s"neighbors(data)=[$top]")
      assert(l.last < l.head && v > 0)
      val docVecs = model.transform(docs.limit(20)).select("doc_id", "doc_vec").collect()
      assert(docVecs.length == 20 &&
        docVecs.forall(r => r.getSeq[Double](1).length == 16))
      println(s"GLOVE $label transform ok: ${docVecs.length} doc vectors of dim 16")
    }
    spark.stop()
  }
}
