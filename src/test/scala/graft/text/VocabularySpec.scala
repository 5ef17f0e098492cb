package graft.text

import graft.{SparkFixture, Tables}
import org.scalatest.funsuite.AnyFunSuite

/** T-3: dense 1-based ids ordered by (count desc, word asc); minCount
  * and maxVocab respected.
  */
class VocabularySpec extends AnyFunSuite with SparkFixture {

  test("maxVocab keeps exactly the top-N ranks") {
    val docs = Tables.table(spark, sf0001, "documents")
    val full = Vocabulary.build(docs, minCount = 2).collect().sortBy(_.getLong(2))
    val cut = Vocabulary.build(docs, minCount = 2, maxVocab = Some(10L))
      .collect().sortBy(_.getLong(2))
    assert(cut.length == 10)
    assert(cut.map(_.toSeq).toSeq == full.take(10).map(_.toSeq).toSeq)
  }

  test("ids are dense, 1-based, ranked by count desc then word asc") {
    val docs = Tables.table(spark, sf0001, "documents")
    val v = Vocabulary.build(docs, minCount = 5)
      .collect().sortBy(_.getLong(2))
    assert(v.nonEmpty)
    assert(v.map(_.getLong(2)).toSeq == (1L to v.length).toSeq)
    val pairs = v.map(r => (r.getLong(1), r.getString(0)))
    val sorted = pairs.sortBy { case (c, w) => (-c, w) }
    assert(pairs.toSeq == sorted.toSeq)
    assert(v.forall(_.getLong(1) >= 5))
  }
}
