package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.SparkTestSession

class RetrievalSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private val docs = Seq(
    0L -> "red fish blue fish",
    1L -> "red red red",
    2L -> "blue sky",
    3L -> "green fish",
    4L -> "nothing relevant here",
    5L -> "red blue red blue fish")

  private val queries = Seq(
    10L -> "red", 10L -> "fish",
    11L -> "blue",
    12L -> "absent")

  /** Brute-force scorer mirroring the operator contract. */
  private def brute(k: Int): Map[(Long, Long), (Long, Long)] = {
    val n = docs.size.toLong
    val tf: Map[(String, Long), Long] = docs.flatMap { case (id, t) =>
      t.split(" ", -1).groupBy(identity).map { case (w, ws) => (w, id) -> ws.length.toLong }
    }.toMap
    val df: Map[String, Long] =
      tf.keys.groupBy(_._1).map { case (w, ks) => w -> ks.size.toLong }
    val byQuery = queries.groupBy(_._1).view.mapValues(_.map(_._2).distinct)
    byQuery.toMap.flatMap { case (qid, terms) =>
      val scored = docs.map(_._1).map { d =>
        d -> terms.map(t => tf.getOrElse((t, d), 0L) * df.get(t).map(n / _).getOrElse(0L)).sum
      }.filter(_._2 > 0L)
      scored.sortBy { case (d, s) => (-s, d) }.take(k).zipWithIndex.map {
        case ((d, s), i) => (qid, d) -> (s, i + 1L)
      }
    }
  }

  private def run(k: Int): Map[(Long, Long), (Long, Long)] =
    Retrieval.searchTopK(docs.toDF("doc_id", "text"), "doc_id", "text",
        queries.toDF("query_id", "term"), k)
      .select("query_id", "doc_id", "score", "rank")
      .as[(Long, Long, Long, Long)].collect()
      .map { case (q, d, s, r) => (q, d) -> (s, r) }.toMap

  test("searchTopK matches brute-force integer tf*(N div df) with (score desc, id asc) ranks") {
    assert(run(10) == brute(10))
  }

  test("k truncates per query; absent terms produce no rows") {
    val got = run(2)
    assert(got == brute(2))
    assert(got.keys.count(_._1 == 10L) == 2)
    assert(!got.keys.exists(_._1 == 12L))
  }

  test("declarative, imperative, and window ranking paths agree") {
    // k <= MaxK ranks through TopK.ranked (k = JitK -> declarative slots,
    // JitK < k <= MaxK -> imperative TopKAggExpr); k > MaxK -> searchTopK's
    // own row_number window (the exact path)
    def run(k: Int) =
      Retrieval.searchTopK(docs.toDF("doc_id", "text"), "doc_id", "text",
          queries.toDF("query_id", "term"), k)
        .select("query_id", "doc_id", "score", "rank")
        .as[(Long, Long, Long, Long)].collect().toSet
    val wide = run(TopKSlots.MaxK + 1)
    val mid = run(TopKSlots.MaxK)
    val narrow = run(TopKSlots.JitK)
    // fewer docs than any of the k values: identical result sets
    assert(wide == mid)
    assert(wide == narrow)
  }

  test("duplicate query terms contribute once") {
    val dup = Seq(20L -> "red", 20L -> "red").toDF("query_id", "term")
    val single = Seq(20L -> "red").toDF("query_id", "term")
    val a = Retrieval.searchTopK(docs.toDF("doc_id", "text"), "doc_id", "text", dup, 10)
      .select("doc_id", "score").as[(Long, Long)].collect().toSet
    val b = Retrieval.searchTopK(docs.toDF("doc_id", "text"), "doc_id", "text", single, 10)
      .select("doc_id", "score").as[(Long, Long)].collect().toSet
    assert(a == b)
  }

  test("phraseCount matches brute force, overlaps counted") {
    val corpus = Seq(
      0L -> "b b b b",             // "b b" occurs 3× (overlapping)
      1L -> "a b c a b c",         // "a b c" twice, "b c" twice
      2L -> "a c b",               // no phrase
      3L -> "x a b",               // trailing "a b"
      4L -> "b")                   // shorter than phrase
    def bruteP(phrase: Seq[String]): Map[Long, Long] =
      corpus.map { case (id, t) =>
        id -> t.split(" ", -1).sliding(phrase.length)
          .count(_.sameElements(phrase)).toLong
      }.filter(_._2 > 0).toMap
    for (phrase <- Seq(Seq("b", "b"), Seq("a", "b", "c"), Seq("a", "b"), Seq("zz"))) {
      val got = Retrieval.phraseCount(corpus.toDF("doc_id", "text"), "doc_id", "text", phrase)
        .as[(Long, Long)].collect().toMap
      assert(got == bruteP(phrase), s"phrase=$phrase")
    }
    assert(bruteP(Seq("b", "b"))(0L) == 3L) // the overlap contract itself
  }

  test("phraseCount rejects malformed phrases") {
    val df = docs.toDF("doc_id", "text")
    intercept[IllegalArgumentException] { Retrieval.phraseCount(df, "doc_id", "text", Seq.empty) }
    intercept[IllegalArgumentException] { Retrieval.phraseCount(df, "doc_id", "text", Seq("two words")) }
  }

  test("buildIndex postings and df agree with direct counts") {
    val (post, dfT) = Retrieval.buildIndex(docs.toDF("doc_id", "text"), "doc_id", "text")
    val tfGot = post.as[(String, Long, Long)].collect()
      .map { case (t, d, f) => (t, d) -> f }.toMap
    assert(tfGot(("fish", 0L)) == 2L && tfGot(("red", 1L)) == 3L)
    val dfGot = dfT.as[(String, Long)].collect().toMap
    assert(dfGot("red") == 3L && dfGot("fish") == 3L && dfGot("sky") == 1L)
  }
}
