package graft.search

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The full read path (reference §3.1): parse → score → blend →
  * paginate, plus T7 phrase detection and R4 total count. */
class SearchApiSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "alpha beta gamma"),
    (2L, "alpha alpha beta"),
    (3L, "beta gamma delta"),
    (4L, "unrelated words entirely")).toDF("doc_id", "text")
  private val priors = Seq((1L, 0.1), (2L, 0.0), (3L, 0.0), (4L, 5.0))
    .toDF("doc_id", "prior")

  test("quoted query switches to phrase semantics") {
    assert(Search.parseQuery("\"big data\"") ==
      Search.PhraseQuery("big data"))
    assert(Search.parseQuery("big data") == Search.MatchQuery("big data"))
    assert(Search.parseQuery("\"") == Search.MatchQuery("\""))
  }

  test("match path: tf-idf + prior ordering, total counts all hits") {
    val page = Search.search(docs, priors, "alpha beta", size = 2)
    assert(page.total == 3) // docs 1,2,3 match at least one term
    val ids = page.rows.select("doc_id").as[Long].collect().toSeq
    assert(ids.length == 2)
    assert(ids.head == 2L) // doc 2: tf(alpha)=2 dominates
  }

  test("phrase path matches adjacency and blends the prior") {
    val page = Search.search(docs, priors, "\"beta gamma\"")
    assert(page.total == 2) // docs 1 and 3
    val ids = page.rows.select("doc_id").as[Long].collect().toSeq
    assert(ids == Seq(1L, 3L)) // equal relevance; doc1's prior wins
  }

  test("offset past the result set yields an empty page, total intact") {
    val page = Search.search(docs, priors, "alpha", offset = 10)
    assert(page.total == 2)
    assert(page.rows.count() == 0)
  }

  test("a search's stored counting pass is freed once its page is dropped") {
    val (code, out) = graft.ChildJvm.run("graft.search.SearchReleaseCheck",
      Nil)
    assert(code == 0 && out.linesIterator.contains("released"),
      s"exit $code: $out")
  }
}
