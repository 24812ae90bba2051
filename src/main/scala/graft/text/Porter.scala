package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Porter stemming (Porter, "An algorithm for suffix stripping",
  * Program 14(3) 1980 — the public algorithm the reference pulls in via
  * bleve's go-porterstemmer dependency, `go.mod:26`). Kept behind an
  * explicit analyzer flag per SURVEY §7: the conformance corpora only
  * need lowercase tokenization; stemming is for free-form corpora.
  *
  * Implementation is the standard 5-step rule cascade on the measure
  * `m` (count of VC sequences); pure function → usable as a UDF over a
  * token column.
  */
object Porter {

  private def isVowelAt(w: String, i: Int): Boolean = w(i) match {
    case 'a' | 'e' | 'i' | 'o' | 'u' => true
    case 'y' => i > 0 && !isVowelAt(w, i - 1)
    case _ => false
  }

  /** Measure: number of VC sequences in the stem. */
  private def m(w: String): Int = {
    var count = 0
    var i = 0
    val n = w.length
    while (i < n && !isVowelAt(w, i)) i += 1 // leading consonants
    while (i < n) {
      while (i < n && isVowelAt(w, i)) i += 1 // vowel run
      if (i < n) { count += 1; while (i < n && !isVowelAt(w, i)) i += 1 }
    }
    count
  }

  private def hasVowel(w: String): Boolean =
    w.indices.exists(isVowelAt(w, _))

  private def doubleC(w: String): Boolean =
    w.length >= 2 && w(w.length - 1) == w(w.length - 2) &&
      !isVowelAt(w, w.length - 1)

  /** *o: stem ends cvc where the final c is not w, x or y. */
  private def cvc(w: String): Boolean =
    w.length >= 3 && !isVowelAt(w, w.length - 3) &&
      isVowelAt(w, w.length - 2) && !isVowelAt(w, w.length - 1) &&
      !"wxy".contains(w.last)

  private def replace(w: String, suffix: String, rep: String,
                      cond: String => Boolean): Option[String] =
    if (w.endsWith(suffix)) {
      val stem = w.dropRight(suffix.length)
      if (cond(stem)) Some(stem + rep) else Some(w)
    } else None

  def stem(word: String): String = {
    if (word == null || word.length <= 2) return word
    var w = word.toLowerCase

    // Step 1a
    if (w.endsWith("sses")) w = w.dropRight(2)
    else if (w.endsWith("ies")) w = w.dropRight(2)
    else if (w.endsWith("ss")) ()
    else if (w.endsWith("s")) w = w.dropRight(1)

    // Step 1b
    var step1bFlag = false
    if (w.endsWith("eed")) {
      if (m(w.dropRight(3)) > 0) w = w.dropRight(1)
    } else if (w.endsWith("ed") && hasVowel(w.dropRight(2))) {
      w = w.dropRight(2); step1bFlag = true
    } else if (w.endsWith("ing") && hasVowel(w.dropRight(3))) {
      w = w.dropRight(3); step1bFlag = true
    }
    if (step1bFlag) {
      if (w.endsWith("at") || w.endsWith("bl") || w.endsWith("iz")) w += "e"
      else if (doubleC(w) && !"lsz".contains(w.last)) w = w.dropRight(1)
      else if (m(w) == 1 && cvc(w)) w += "e"
    }

    // Step 1c
    if (w.endsWith("y") && hasVowel(w.dropRight(1))) w = w.dropRight(1) + "i"

    // Steps 2-4 are "longest matching suffix wins, its condition tested
    // exactly once" — if the longest match fails its m-condition the
    // step ends with NO rewrite (canonical Porter; no fall-through to a
    // shorter suffix, e.g. "agreement" stays "agreement" even though
    // the shorter "ent" rule's condition would hold).
    def longestMatch(word: String,
                     rules: Seq[(String, String)]): Option[(String, String)] =
      rules.filter { case (s, _) => word.endsWith(s) }
        .sortBy { case (s, _) => -s.length }
        .headOption

    // Step 2 (m > 0)
    val step2 = Seq(
      "ational" -> "ate", "tional" -> "tion", "enci" -> "ence",
      "anci" -> "ance", "izer" -> "ize", "abli" -> "able",
      "alli" -> "al", "entli" -> "ent", "eli" -> "e", "ousli" -> "ous",
      "ization" -> "ize", "ation" -> "ate", "ator" -> "ate",
      "alism" -> "al", "iveness" -> "ive", "fulness" -> "ful",
      "ousness" -> "ous", "aliti" -> "al", "iviti" -> "ive",
      "biliti" -> "ble")
    longestMatch(w, step2).foreach { case (s, r) =>
      val stem = w.dropRight(s.length)
      if (m(stem) > 0) w = stem + r
    }

    // Step 3 (m > 0)
    val step3 = Seq("icate" -> "ic", "ative" -> "", "alize" -> "al",
      "iciti" -> "ic", "ical" -> "ic", "ful" -> "", "ness" -> "")
    longestMatch(w, step3).foreach { case (s, r) =>
      val stem = w.dropRight(s.length)
      if (m(stem) > 0) w = stem + r
    }

    // Step 4 (m > 1); "ion" additionally requires an s/t before it.
    val step4 = Seq("al", "ance", "ence", "er", "ic", "able", "ible",
      "ant", "ement", "ment", "ent", "ion", "ou", "ism", "ate", "iti",
      "ous", "ive", "ize")
    longestMatch(w, step4.map(_ -> "")).foreach { case (s, _) =>
      val stem = w.dropRight(s.length)
      val ok =
        if (s == "ion") stem.nonEmpty && "st".contains(stem.last) &&
          m(stem) > 1
        else m(stem) > 1
      if (ok) w = stem
    }

    // Step 5a
    if (w.endsWith("e")) {
      val stem = w.dropRight(1)
      if (m(stem) > 1 || (m(stem) == 1 && !cvc(stem))) w = stem
    }
    // Step 5b
    if (m(w) > 1 && doubleC(w) && w.endsWith("l")) w = w.dropRight(1)

    w
  }

  /** Stemmed token array — the analyzer's optional final stage. */
  def stemAll(tokens: Column): Column = {
    val f = udf((ts: Seq[String]) => ts.map(stem))
    f(tokens)
  }
}
