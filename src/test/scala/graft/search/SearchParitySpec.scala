package graft.search

import graft.SparkSpec
import graft.util.Exact
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Differential check of the served search paths: `Search.search` must
  * return the same total, the same (doc_id, blended) page and the same
  * columns as the plain compositions, matchScores → blend → searchPage
  * for a match query and phraseMatch → blend → searchPage for a phrase,
  * on the inputs where a per-row scorer could drift from a per-posting
  * one or a stored pass could drift from the plan it stores. */
class SearchParitySpec extends SparkSpec {
  import spark.implicits._

  // Every row's prior is distinct (below), so no two blended values tie
  // and the page order does not hang on float summation order.
  private val docs = (Seq[(Option[Long], Option[String])](
    Some(1L) -> Some("alpha beta gamma"),
    Some(2L) -> Some("alpha alpha beta"),
    Some(2L) -> Some("beta delta alpha"), // duplicate id: tf sums, df once
    Some(2L) -> None, // ...and a null-text row under the same id
    Some(3L) -> Some("Beta GAMMA"), // mixed-case text
    None -> Some("alpha gamma"), // null id: scores, never counts in df
    None -> Some("beta"), // a second null-id row joins the same group
    Some(4L) -> None, // null text
    Some(5L) -> Some(""), // empty text
    Some(6L) -> Some("   "), // whitespace only
    Some(7L) -> Some("unrelated words entirely")) ++
    (10L until 40L).map { i =>
      Some(i) -> Some(("alpha " * (1 + i % 3).toInt) +
        (if (i % 2 == 0) "beta" else "gamma") + s" filler$i")
    }).toDF("doc_id", "text")

  private val priors = (Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L) ++ (10L until 40L))
    .map(i => (i, i * 0.013)).toDF("doc_id", "prior")

  private val order = Seq(col("blended").desc, col("doc_id"))

  private def reference(d: DataFrame, p: DataFrame, raw: String,
                        offset: Int): Search.Page = {
    val terms = raw.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    Search.searchPage(
      Search.blend(Search.matchScores(d, terms), p, "doc_id", "prior"),
      order, offset, 10)
  }

  private def phraseReference(d: DataFrame, p: DataFrame, raw: String,
                              offset: Int): Search.Page = {
    val Search.PhraseQuery(phrase) = Search.parseQuery(raw): @unchecked
    Search.searchPage(Search.blend(Search.phraseMatch(d, phrase)
      .select(col("doc_id"), lit(1.0).as("score")), p, "doc_id", "prior"),
      order, offset, 10)
  }

  private def rows(p: Search.Page): Seq[Seq[Any]] =
    p.rows.select(col("doc_id"), Exact.micros(col("blended")))
      .collect().map(_.toSeq).toSeq

  private def assertParity(raw: String, offsets: Seq[Int],
                           d: DataFrame = docs,
                           p: DataFrame = priors): Long = {
    val ref = Search.parseQuery(raw) match {
      case _: Search.PhraseQuery => phraseReference _
      case _: Search.MatchQuery => reference _
    }
    val total = ref(d, p, raw, 0).total
    (offsets :+ (total.toInt + 5)).foreach { off =>
      val want = ref(d, p, raw, off)
      val got = Search.search(d, p, raw, offset = off)
      assert(got.total == want.total, s"'$raw' @$off total")
      assert(rows(got) == rows(want), s"'$raw' @$off page")
      assert(got.rows.columns.toSeq == want.rows.columns.toSeq)
    }
    total
  }

  test("match page and total equal the postings composition") {
    val total = assertParity("alpha beta", Seq(0, 10))
    assert(total > 20, "the corpus must fill more than two pages")
    assertParity("gamma", Seq(0, 10))
    assertParity("delta", Seq(0))
  }

  test("repeated and mixed-case query terms score like the postings path") {
    assertParity("Alpha alpha beta", Seq(0, 10))
    assertParity("  GAMMA   beta  ", Seq(0, 10))
  }

  test("duplicate ids group once; null ids and null or empty text agree") {
    val got = Search.search(docs, priors, "alpha beta delta", size = 100)
    val ids = got.rows.select("doc_id").as[Option[Long]].collect().toSeq
    assert(ids.count(_.contains(2L)) == 1, "rows of id 2 form one hit")
    assert(ids.count(_.isEmpty) == 1, "null-id rows form one hit")
    assert(!ids.exists(i => i.contains(4L) || i.contains(5L) ||
      i.contains(6L) || i.contains(7L)))
    assertParity("alpha beta delta", Seq(0, 10))
  }

  test("a query whose terms all miss: total 0, empty page") {
    Seq("zeta omega", "", "   ").foreach { q =>
      assert(assertParity(q, Seq(0, 10)) == 0, q)
      assert(Search.search(docs, priors, q).rows.count() == 0, q)
    }
  }

  test("duplicate prior ids multiply blended rows in page and total") {
    val dupPriors = priors.unionByName(
      Seq((1L, 0.5), (10L, 0.25)).toDF("doc_id", "prior"))
    val total = assertParity("alpha beta", Seq(0, 10), p = dupPriors)
    assert(total == assertParity("alpha beta", Seq(0)) + 2)
  }

  test("a term only null ids hold (df 0) fares the same on both paths") {
    val d = docs.unionByName(
      Seq((Option.empty[Long], "omicron alpha")).toDF("doc_id", "text"))
    def outcome(p: => Search.Page) = scala.util.Try {
      val page = p
      (page.total, rows(page))
    }.toEither.left.map(_ => "failed")
    Seq("omicron", "omicron beta").foreach { q =>
      assert(outcome(Search.search(d, priors, q)) ==
        outcome(reference(d, priors, q, 0)), q)
    }
  }

  test("phrase page and total equal the phraseMatch composition") {
    val total = assertParity("\"alpha beta\"", Seq(0, 10))
    assert(total > 10, "the phrase must fill more than one page")
    assertParity("\"Alpha ALPHA\"", Seq(0, 10))
    // the null-id row "alpha gamma" holds this phrase
    assertParity("\"alpha gamma\"", Seq(0, 10))
    assertParity("\"zeta omega\"", Seq(0))
  }

  test("phrase parity over duplicate ids, null and blank text, " +
      "duplicate prior ids") {
    // every row of id 10 holds the phrase: each is its own blended row
    val dupDocs = docs.unionByName(docs.filter(col("doc_id") === 10L))
      .unionByName(Seq((Option(12L), Option("x alpha beta"))).toDF(
        "doc_id", "text"))
    val dupPriors = priors.unionByName(
      Seq((1L, 0.5), (10L, 0.25)).toDF("doc_id", "prior"))
    val base = assertParity("\"alpha beta\"", Seq(0))
    assert(assertParity("\"alpha beta\"", Seq(0, 10), d = dupDocs) ==
      base + 2)
    assert(assertParity("\"alpha beta\"", Seq(0, 10), p = dupPriors) ==
      base + 2)
    assert(assertParity("\"alpha beta\"", Seq(0, 10), d = dupDocs,
      p = dupPriors) == base + 5)
    // a blank phrase hits exactly the empty and whitespace-only texts;
    // null text never matches
    assert(assertParity("\"\"", Seq(0, 10)) == 2)
    assert(assertParity("\"  \"", Seq(0)) == 2)
  }
}
