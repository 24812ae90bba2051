package graft.search

import org.apache.spark.sql.{Column, DataFrame, functions}
import org.apache.spark.sql.functions._
import graft.text.Analyzer
import graft.util.Ckpt

/** Full-text search over a documents table (reference R1–R5,
  * `textindexer/index/indexer.go:14-17`, ES DSL `textindexer/store/es/es.go:184-226`).
  *
  * uSearch delegates ranked retrieval to Elasticsearch/bleve; here the index
  * IS a DataFrame: a postings table derived from the corpus, scored with
  * TF-IDF and blended with a stored prior (PageRank in the reference,
  * `es.go:196-209`: `_score + doc['PageRank'].value`).
  *
  * Scale notes: the served query path ([[search]]) never builds postings.
  * It counts each query term per document row straight off the token
  * array, so the corpus scan is shuffle-free; only the rows that hold a
  * query term are grouped by document id (one shuffle of hits, not of
  * the corpus). The hit groups, left-joined with the priors, are stored
  * by one counting pass per request, which also folds N, every term's
  * df and the hit total; the page reads the stored rows and never scans
  * the corpus again. idf reaches the page plan as a per-query literal.
  * The batch scorers ([[matchScores]], [[bm25Scores]]) keep the postings
  * shape: one explode + hash aggregations by (term) or (doc), with the
  * vocabulary-sized df table broadcast.
  */
object Search {

  /** Postings: one row per (doc, position, term). `analyzer` picks the
    * tokenization (default: the engine's lowercase-whitespace analyzer). */
  def postings(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text",
               analyzer: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
                 Analyzer.tokenize): DataFrame =
    docs.select(col(idCol), posexplode(analyzer(col(textCol)))
      .as(Seq("pos", "term")))

  /** TF-IDF scores for an OR-terms keyword query (reference R1 "match").
    * idf = ln(N / df); score(d) = Σ_t tf(d,t)·idf(t).
    * Returns (doc_id, score: Double), unranked.
    */
  def matchScores(docs: DataFrame, terms: Seq[String],
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = postings(docs, idCol, textCol).filter(col("term").isin(terms: _*))
    val tf = toks.groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
    val dfreq = toks.groupBy("term").agg(countDistinct(idCol).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(n))
      .withColumn("w", tfIdf(col("tf"), col("n"), col("df")))
      .groupBy(idCol)
      .agg(sum("w").as("score"))
  }

  /** The TF-IDF weight of one (document, term) pair, tf · ln(N / df):
    * the one definition [[matchScores]] and [[search]] both score with. */
  private def tfIdf(tf: Column, n: Column, df: Column): Column =
    tf * log(n.cast("double") / df)

  /** BM25 scores for an OR-terms query (Okapi, Lucene-style +1 idf):
    * idf(t) = ln((N - df + 0.5)/(df + 0.5) + 1),
    * score(d) = Σ_t idf·tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl)).
    * Same shuffle shape as TF-IDF (postings agg + broadcast df) plus a
    * per-doc length join; dl/avgdl computed over ALL tokens. */
  def bm25Scores(docs: DataFrame, terms: Seq[String],
                 k1: Double = 1.2, b: Double = 0.75,
                 idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    // dl needs no postings shuffle: token COUNT is a per-row size()
    // (empty docs excluded, matching the postings-derived table).
    val dl = docs.select(col(idCol),
        size(Analyzer.tokenize(col(textCol))).cast("long").as("dl"))
      .filter(col("dl") > 0)
    val avgdl = dl.agg((sum("dl").cast("double") /
      count(lit(1)).cast("double")).as("avgdl"))
    val toks = postings(docs, idCol, textCol)
      .filter(col("term").isin(terms: _*))
    val tf = toks.groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
    val dfreq = toks.groupBy("term").agg(countDistinct(idCol).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(n))
      .crossJoin(broadcast(avgdl))
      .join(dl, idCol)
      .withColumn("idf", log(
        (col("n").cast("double") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)) + lit(1.0)))
      .withColumn("w", col("idf") *
        (col("tf").cast("double") * lit(k1 + 1)) /
        (col("tf").cast("double") + lit(k1) *
          (lit(1.0) - lit(b) + lit(b) *
            (col("dl").cast("double") / col("avgdl")))))
      .groupBy(idCol)
      .agg(sum("w").as("score"))
  }

  /** Multi-field weighted relevance (the reference searches
    * `fields: [Title, Content]` — `textindexer/store/es/es.go:199-201`
    * multi_match): per-field TF-IDF with field-local document
    * frequencies, blended as Σ weight_f · score_f. Same shuffle shape
    * as [[matchScores]] per field; fields are few, so the union-sum is
    * one extra page-sized aggregation. */
  def matchScoresFields(docs: DataFrame, terms: Seq[String],
                        fields: Seq[(String, Double)],
                        idCol: String = "doc_id"): DataFrame = {
    require(fields.nonEmpty, "at least one (field, weight) required")
    fields.map { case (f, wgt) =>
      matchScores(docs, terms, idCol, f)
        .select(col(idCol), (col("score") * wgt).as("score"))
    }.reduce(_ unionByName _)
      .groupBy(idCol).agg(sum("score").as("score"))
  }

  /** Multi-field BM25 — [[bm25Scores]] per field (field-local df, dl,
    * avgdl), blended as Σ weight_f · score_f. */
  def bm25ScoresFields(docs: DataFrame, terms: Seq[String],
                       fields: Seq[(String, Double)],
                       k1: Double = 1.2, b: Double = 0.75,
                       idCol: String = "doc_id"): DataFrame = {
    require(fields.nonEmpty, "at least one (field, weight) required")
    fields.map { case (f, wgt) =>
      bm25Scores(docs, terms, k1, b, idCol, f)
        .select(col(idCol), (col("score") * wgt).as("score"))
    }.reduce(_ unionByName _)
      .groupBy(idCol).agg(sum("score").as("score"))
  }

  /** Exact-phrase match (reference R2): documents whose token stream contains
    * the phrase's tokens consecutively. For a whitespace corpus this is a
    * padded substring test — sargable, no positional self-join needed.
    */
  def phraseMatch(docs: DataFrame, phrase: String,
                  textCol: String = "text"): DataFrame = {
    val needle = " " + phrase.trim.toLowerCase + " "
    docs.filter(concat(lit(" "), lower(trim(col(textCol))), lit(" "))
      .contains(needle))
  }

  /** Positional phrase match — the analyzer-based form ES/bleve
    * implement (`textindexer/store/memory/memory.go:105-107`): the
    * phrase's tokens must appear at CONSECUTIVE positions in the
    * document's analyzed token stream. Equivalent to the padded-contains
    * fast path ([[phraseMatch]]) on whitespace-clean corpora, but still
    * correct when punctuation intervenes: with `Analyzer.tokenizeStrict`
    * "join, batch" matches the phrase "join batch" (contains() cannot).
    *
    * Shape: postings filtered to the phrase's terms (pruned before any
    * shuffle), each term i anchored to `pos - i`, one aggregation keyed
    * (doc, anchor) counting distinct slots — no self-join chain, one
    * shuffle regardless of phrase length. */
  def phraseMatchPositional(docs: DataFrame, phrase: String,
                            idCol: String = "doc_id",
                            textCol: String = "text",
                            analyzer: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
                              Analyzer.tokenize): DataFrame = {
    // The phrase goes through the SAME analyzer as the documents (ES/
    // bleve semantics) — a whitespace split would leave punctuation
    // attached to the query terms and silently never match. One local
    // 1-row job; the phrase is a literal.
    val spark = docs.sparkSession
    import spark.implicits._
    val terms = Seq(phrase).toDF("p")
      .select(explode(analyzer(col("p"))).as("t"))
      .as[String].collect().toSeq
    require(terms.nonEmpty, "empty phrase")
    val post = postings(docs, idCol, textCol, analyzer)
      .filter(col("term").isin(terms.distinct.toIndexedSeq: _*))
    val slots = terms.zipWithIndex.map { case (t, i) =>
      post.filter(col("term") === t)
        .select(col(idCol), (col("pos") - i).as("anchor"),
          lit(i).as("slot"))
    }.reduce(_ unionByName _)
    val hits = slots.groupBy(idCol, "anchor")
      .agg(countDistinct("slot").as("found"))
      .filter(col("found") === terms.length)
      .select(idCol).distinct()
    docs.join(hits, Seq(idCol), "left_semi")
  }

  /** Rank blend (reference R3, canonical ES additive semantic):
    * final = relevance + prior. `priorCol` plays PageRank's role. */
  def blend(scored: DataFrame, prior: DataFrame, idCol: String,
            priorCol: String): DataFrame =
    withBlended(scored.join(prior, Seq(idCol), "left"), priorCol)

  /** `joined`, scores left-joined with their priors, plus [[blend]]'s
    * `blended` column. */
  private def withBlended(joined: DataFrame, priorCol: String): DataFrame =
    joined.withColumn("blended",
      col("score") + coalesce(col(priorCol).cast("double"), lit(0d)))

  /** Offset/limit pagination with a deterministic total order (reference R4:
    * ES from/size, `es.go:211-212`). The `limit(offset+size)` runs first so
    * the row_number window only sees a page-sized slice, never the corpus —
    * the partitionless window is page-bounded BY CONSTRUCTION, which is why
    * WindowExec's "No Partition Defined" warning is expected here and
    * silenced in the runnable mains (util.Logs.quietExpected). */
  def paginate(df: DataFrame, orderCols: Seq[org.apache.spark.sql.Column],
               offset: Int, size: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.orderBy(orderCols: _*)
      .limit(offset + size)
      .withColumn("rn", row_number().over(Window.orderBy(orderCols: _*)))
      .filter(col("rn") > offset)
  }

  /** A page plus the corpus-wide hit count (reference R4 `TotalCount`,
    * `indexer.go:40-41` — the gRPC stream's first frame). `total` is a
    * Long fetched when the page is built; `rows` stays a lazy
    * top-(offset+size) plan. [[searchPage]] counts by evaluating
    * `scored` once more. [[search]] instead stores its blended rows (or,
    * for a match query, the rows they are scored from) in the one pass
    * that counts the total, and `rows` pages over the stored rows; they
    * are freed once the page is dropped (`Ckpt.storeFolded`). */
  final case class Page(rows: DataFrame, total: Long)

  def searchPage(scored: DataFrame,
                 orderCols: Seq[org.apache.spark.sql.Column],
                 offset: Int, size: Int): Page =
    Page(paginate(scored, orderCols, offset, size), scored.count())

  /** Materialized inverted index: one row per term with document
    * frequency and the posting list DELTA-ENCODED (sorted doc ids →
    * gaps), the classic index compression (gaps are small, so
    * varint/bit-packing layers shrink them — here the engine keeps the
    * gap array; parquet's integer encodings do the byte-level work).
    * This is the persisted form of the reference's ES/bleve index
    * (`textindexer/index/indexer.go`): write it `partitionBy(term
    * bucket)` and a query touches only its terms' row groups.
    * One explode + one term-keyed agg; arrays stay bounded by document
    * frequency (Zipf head terms are the big rows — exactly the rows a
    * real engine splits into blocks; block splitting composes on top). */
  def invertedIndex(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
        explode(array_distinct(Analyzer.tokenize(col(textCol))))
          .as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("df"),
        sort_array(collect_list(col(idCol))).as("__ds"))
      .select(col("term"), col("df"),
        transform(col("__ds"), (x, i) =>
          x - coalesce(get(col("__ds"), i - 1), lit(0L)))
          .as("doc_gaps"))

  /** Merge two [[invertedIndex]] segments — the Lucene/bleve
    * segment-merge analog for the ingest cycle (the reference re-crawls
    * and UPSERTS into its index; this is the batch-index equivalent):
    * df counts add, and because the delta segment's doc ids are all
    * GREATER than the old segment's (append ingest — ids are mint-time
    * monotone), the gap-encoded posting lists concatenate with a single
    * junction re-base — no posting decode, no re-sort, no per-doc work.
    * Terms new to either side pass through unchanged.
    *
    * Cost is one term-keyed join over the two INDEX tables (vocabulary-
    * sized, not corpus-sized): at 100 TB a day's ingest merges its
    * segment into the standing index without ever touching the old
    * corpus — the q201/q205/q206 incremental posture applied to search.
    *
    * Contract: min doc id of `delta` > max doc id of `oldIdx`'s
    * postings (junction gap = delta's first absolute id − sum of the
    * old gap list = the old segment's last id).
    */
  def mergeIndexSegments(oldIdx: DataFrame, delta: DataFrame): DataFrame = {
    val a = oldIdx.select(col("term"), col("df").as("df_a"),
      col("doc_gaps").as("g_a"))
    val b = delta.select(col("term"), col("df").as("df_b"),
      col("doc_gaps").as("g_b"))
    a.join(b, Seq("term"), "full_outer")
      .select(col("term"),
        (coalesce(col("df_a"), lit(0L)) + coalesce(col("df_b"), lit(0L)))
          .as("df"),
        when(col("g_a").isNull, col("g_b"))
          .when(col("g_b").isNull, col("g_a"))
          .otherwise(concat(
            col("g_a"),
            // junction: delta's first gap IS its first absolute id.
            // The contract (every delta id > every old id) makes the
            // junction gap strictly positive; a non-positive junction
            // means interleaved segments, which would silently corrupt
            // the merged gap list — fail loudly instead.
            array {
              val junction = element_at(col("g_b"), 1) -
                aggregate(col("g_a"), lit(0L), _ + _)
              when(junction > 0, junction).otherwise(raise_error(
                concat(lit("mergeIndexSegments: delta doc ids must all " +
                  "exceed old segment ids; violated for term "),
                  col("term"))))
            },
            slice(col("g_b"), lit(2), size(col("g_b")) - 1)))
          .as("doc_gaps"))
  }

  /** Bounded ranking: top `n` rows of `scored` by (`scoreCol` DESC,
    * `idCol` ASC) with a dense 1-based `rank` column. The limit runs
    * first (TakeOrderedAndProject — never a global sort), so the
    * partitionless ranking window sees only an n-row slice, the same
    * bounded-by-construction shape as [[paginate]]. Rank by an
    * INTEGER-snapped score (e.g. `Exact.micros`) when the ranking must
    * reproduce across engines — raw-double order is ulp-fragile. */
  def rankedTopN(scored: DataFrame, scoreCol: String, n: Int,
                 idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val order = Seq(col(scoreCol).desc, col(idCol))
    scored.orderBy(order: _*).limit(n)
      .withColumn("rank", row_number().over(Window.orderBy(order: _*)))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009): fuse any
    * number of rankings — each (idCol, rank) — into
    * score(d) = Σ_r 1 / (k + rank_r(d)), k = 60 the paper's constant.
    * The hybrid-search default for blending lexical (BM25) and semantic
    * (embedding-cosine) retrieval without score calibration.
    *
    * Ids missing from a ranking contribute 0 for that term (full outer
    * join). Terms sum left-to-right in input order — deterministic, and
    * each 1/(k+rank) is a single IEEE division on exact integers, so the
    * fused score is engine-portable. Scale: inputs are bounded top-N
    * rankings by construction (the expensive corpus-sized scoring stays
    * upstream in its own shuffle shape), so the fusion joins are
    * page-sized — broadcastable no-ops at any corpus scale. */
  def rrfFuse(rankings: Seq[DataFrame], k: Int = 60,
              idCol: String = "doc_id"): DataFrame = {
    require(rankings.nonEmpty, "at least one ranking required")
    val terms = rankings.zipWithIndex.map { case (r, i) =>
      r.select(col(idCol),
        (lit(1.0) / (lit(k.toDouble) + col("rank").cast("double")))
          .as(s"__rrf$i"))
    }
    terms.reduce((a, b) => a.join(b, Seq(idCol), "full_outer"))
      .select(col(idCol),
        terms.indices.map(i => coalesce(col(s"__rrf$i"), lit(0.0)))
          .reduce(_ + _).as("rrf"))
  }

  /** Parsed query type (reference T7, `frontend.go:288-291`): leading +
    * trailing quote switches keyword Match to exact Phrase. */
  sealed trait ParsedQuery { def expression: String }
  final case class MatchQuery(expression: String) extends ParsedQuery
  final case class PhraseQuery(expression: String) extends ParsedQuery

  def parseQuery(raw: String): ParsedQuery = {
    val t = raw.trim
    if (t.length >= 2 && t.startsWith("\"") && t.endsWith("\""))
      PhraseQuery(t.substring(1, t.length - 1))
    else MatchQuery(t)
  }

  /** Full read path (reference §3.1): parse → score (match or phrase) →
    * blend with the stored prior → rank → paginate. */
  def search(docs: DataFrame, priors: DataFrame, raw: String,
             offset: Int = 0, size: Int = 10,
             idCol: String = "doc_id", textCol: String = "text"): Page = {
    val order = Seq(col("blended").desc, col(idCol))
    parseQuery(raw) match {
      case PhraseQuery(p) =>
        val scored = phraseMatch(docs, p, textCol)
          .select(col(idCol), lit(1.0).as("score"))
        // the blended rows, stored by the pass that counts them
        val (stored, counts) = Ckpt.storeFolded(
          blend(scored, priors, idCol, "prior"))(_.size.toLong)
        Page(paginate(stored, order, offset, size), counts.sum)
      case MatchQuery(m) =>
        val terms = m.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty)
        matchPage(docs, priors, terms.distinct, order, offset, size, idCol,
          textCol)
    }
  }

  /** The match branch of [[search]]: the same page and total as
    * `searchPage(blend(matchScores(docs, terms), priors), ...)`, from one
    * scan of `docs` and no postings.
    *
    *  - Each row gets one `size(filter(tokens, _ === t))` count per
    *    distinct query term; rows holding none of the terms are dropped
    *    before any shuffle.
    *  - Hit rows are grouped by id, so rows sharing a `doc_id` sum their
    *    term counts (tf) and count once towards df, exactly as the
    *    postings aggregation does; all null-id hit rows form one group
    *    that scores but never counts towards df. Non-hit rows group
    *    under one (false, null) key, which partial aggregation folds to
    *    a row per task: that is how N rides along in the same scan.
    *  - The groups, left-joined with the priors, are stored by one
    *    counting pass: one row per blended row. The pass folds N (all
    *    document rows), every term's df (distinct non-null ids) and the
    *    total: the stored hit rows, i.e. hit groups times their
    *    matching prior rows, at least one.
    *  - The page plan reads the stored rows: it scores the hit rows with
    *    idf = ln(N/df) folded to a literal (no df or N join), adds the
    *    blended column and paginates. The idf literal still makes each
    *    query's page plan, and so its generated code, new.
    */
  private def matchPage(docs: DataFrame, priors: DataFrame, terms: Seq[String],
                        order: Seq[Column], offset: Int, size: Int,
                        idCol: String, textCol: String): Page = {
    val tfs = terms.indices.map(i => s"__tf$i")
    // tokens bound once per row: every per-term count reads the column
    val counts = docs
      .select(col(idCol), Analyzer.tokenize(col(textCol)).as("__toks"))
      .select(col(idCol) +: terms.zip(tfs).map { case (t, c) =>
        functions.size(filter(col("__toks"), _ === t)).as(c) }: _*)
    val hit = tfs.map(c => col(c) > 0).foldLeft(lit(false))(_ || _)
    val groups = counts
      .groupBy(hit.as("__hit"), when(hit, col(idCol)).as(idCol))
      .agg(count(lit(1)).as("__rows"), tfs.map(c => sum(c).as(c)): _*)

    // a group is one row of the join's left side, so every stored row of
    // a group comes from the task that joined it: each task folds its
    // rows to (N, total, df...) counting each (__hit, id) group once, and
    // the driver adds the task sums
    val joined = groups.join(priors, Seq(idCol), "left")
    val schema = joined.schema
    val Seq(hitAt, idAt, rowsAt) =
      Seq("__hit", idCol, "__rows").map(schema.fieldIndex)
    val tfAt = tfs.map(schema.fieldIndex).toArray
    val idType = schema(idAt).dataType
    val width = 2 + tfs.size
    val (stored, partials) = Ckpt.storeFolded(joined) { rows =>
      val acc = new Array[Long](width)
      val groupsSeen = new java.util.HashSet[(Any, Any)]()
      rows.foreach { r =>
        // __hit is null where the text is null (ANSI: size(null) is null)
        val hitState = if (r.isNullAt(hitAt)) null else r.getBoolean(hitAt)
        val id = if (r.isNullAt(idAt)) null else r.get(idAt, idType)
        val isHit = hitState == true
        if (isHit) acc(1) += 1
        if (groupsSeen.add((hitState, id))) {
          acc(0) += r.getLong(rowsAt)
          if (isHit && id != null) {
            var i = 0
            while (i < tfAt.length) {
              if (!r.isNullAt(tfAt(i)) && r.getLong(tfAt(i)) > 0)
                acc(2 + i) += 1
              i += 1
            }
          }
        }
      }
      acc
    }
    val Array(n, total, dfs @ _*) =
      partials.foldLeft(new Array[Long](width)) { (a, b) =>
        var i = 0
        while (i < width) { a(i) += b(i); i += 1 }
        a
      }: @unchecked

    // a term weighs in only where it occurs. A weight is null (or, under
    // ANSI, raises) only where df = 0, i.e. only null ids hold the term;
    // like the postings sum, a doc whose every weight is null scores null
    val ws = tfs.zip(dfs).map { case (c, df) =>
      when(col(c) > 0, tfIdf(col(c), lit(n), lit(df))) }
    val score =
      if (ws.isEmpty) lit(null).cast("double")
      else when(ws.map(_.isNotNull).reduce(_ || _),
        ws.map(coalesce(_, lit(0d))).reduce(_ + _))
    val priorCols = joined.columns.drop(groups.columns.length).map(col)
    val scored = stored.filter(col("__hit"))
      .select(col(idCol) +: score.as("score") +: priorCols.toSeq: _*)
    Page(paginate(withBlended(scored, "prior"), order, offset, size), total)
  }
}
