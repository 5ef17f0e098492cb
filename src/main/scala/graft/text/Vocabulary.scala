package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** GloVe stage 1: vocabulary build (SURVEY T-3; canonical `vocab_count`).
  *
  * Words with `count >= minCount`, dense ids `0..V-1` here surfaced as
  * 1-based ranks assigned by descending frequency, ties broken
  * lexicographically — the deterministic id assignment every faithful
  * GloVe port uses.
  */
object Vocabulary {

  /** Unpartitioned `row_number()` window: correct at any V but
    * single-partition for the rank assignment (Spark's W-7 hazard) —
    * fine to a few million words.
    * Output: (w STRING, c BIGINT, id BIGINT), id starting at 1.
    *
    * `maxVocab` keeps only the top-N ranked words (canonical toolkit's
    * `--max-vocab`); ranking is already total (count desc, word asc), so
    * the cut is deterministic.
    */
  def build(documents: DataFrame, minCount: Long, textCol: String = "text",
      maxVocab: Option[Long] = None): DataFrame = {
    val ranked = documents
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w")
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount)
      .select(col("w"), col("c"),
        row_number().over(Window.orderBy(desc("c"), asc("w"))).cast("long").as("id"))
    maxVocab.fold(ranked)(m => ranked.filter(col("id") <= m))
  }
}
