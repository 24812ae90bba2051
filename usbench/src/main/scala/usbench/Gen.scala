package usbench

import java.util.SplittableRandom

/** Seeded input generator. Every workload input is a pure function of
  * the run's seed, so two runs with the same seed see the same corpus,
  * web and request stream; the engine only ever receives the
  * generated rows. Each input draws from its own salted stream, so
  * resizing one input does not reshuffle the others. */
final class Gen(seed: Long) {
  import Gen._

  def rng(salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  // ------------------------------------------------------------ vocabulary

  private val syllables = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti",
    "vo", "ze", "pa", "do", "gu", "fe", "ho", "ji", "bu")

  /** Word `i` of the vocabulary: lowercase letters only, distinct per i
    * (base-16 syllables, at least two), so the engine's whitespace
    * analyzer sees exactly one token per word. */
  def word(i: Int): String = {
    val sb = new StringBuilder
    var x = i
    var n = 0
    while (n < 2 || x > 0) {
      sb.append(syllables(x & 15)); x >>>= 4; n += 1
    }
    sb.toString
  }

  /** Zipf(s) sampler over ranks 0 until n by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def draw(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  val vocabSize = 3000
  val vocab: Array[String] = Array.tabulate(vocabSize)(word)
  val termZipf = new Zipf(vocabSize, 1.05)

  def words(r: SplittableRandom, n: Int): String =
    Iterator.fill(n)(vocab(termZipf.draw(r))).mkString(" ")

  // ---------------------------------------------------- search corpus

  /** `n` documents of 20-60 Zipf-drawn words, each with a stored prior
    * (the PageRank stand-in the search path blends in). */
  def corpus(n: Int): Array[Doc] = {
    val r = rng(1)
    Array.tabulate(n) { i =>
      Doc(i.toLong, words(r, 20 + r.nextInt(41)),
        math.floor(1e6 * 0.01 * math.pow(r.nextDouble(), 3)) / 1e6)
    }
  }

  // ------------------------------------------------------ link store

  def pageUrl(i: Long): String = s"https://h${i % 16}.example/p/$i"

  /** Links of `pages` pages: power-law out-degree, preferential targets
    * (a Zipf rank mapped through a fixed permutation). */
  def links(pages: Int): Array[Link] = {
    val r = rng(2)
    val target = new Zipf(pages, 0.9)
    val perm = permutation(pages, rng(3))
    (0 until pages).iterator.flatMap { i =>
      (0 until outDegree(r)).map(_ => perm(target.draw(r)).toLong).distinct
        .map(d => Link(i.toLong, d, pageUrl(i)))
    }.toArray
  }

  private def outDegree(r: SplittableRandom): Int =
    math.min(24, 1 + (1.0 / math.pow(1.0 - r.nextDouble(), 1.0 / 1.6) - 1.0)
      .toInt)

  private def permutation(n: Int, r: SplittableRandom): Array[Int] = {
    val p = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = p(i); p(i) = p(j); p(j) = t
      i -= 1
    }
    p
  }

  // ---------------------------------------------------- request stream

  /** The requests of one client, in order. The mix repeats every three
    * requests (search, read, read), so every seed sends the same shapes
    * in the same order up to terms and keys. Searches cycle through
    * offsets 0, 0, 10, 20; every fourth is a quoted two-word phrase
    * taken from a corpus document, the others have 1-3 Zipf-drawn terms.
    * Reads cycle through URL key lookups, id lookups and range reads (ids
    * and commit numbers 1..`commits`). */
  def requests(n: Int, docs: Array[Doc], pages: Int, commits: Int)
      : Vector[Req] = {
    val r = rng(4)
    var searches, reads = 0
    Vector.tabulate(n) { i =>
      if (i % 3 == 0) {
        val k = searches
        searches += 1
        val offset = Array(0, 0, 10, 20)(k % 4)
        if (k % 4 == 3) {
          val toks = docs(r.nextInt(docs.length)).text.split(" ")
          val at = r.nextInt(toks.length - 1)
          val ph = s"${toks(at)} ${toks(at + 1)}"
          SearchReq("\"" + ph + "\"", Seq(ph), phrase = true, offset)
        } else {
          val ts = Seq.fill(1 + k % 3)(vocab(termZipf.draw(r))).distinct
          SearchReq(ts.mkString(" "), ts, phrase = false, offset)
        }
      } else {
        reads += 1
        reads % 3 match {
          case 1 =>
            val p = r.nextInt(pages).toLong
            KeyReq(pageUrl(p), p)
          case 2 => IdReq(r.nextInt(pages).toLong)
          case _ =>
            val from = r.nextInt(pages).toLong
            RangeReq(from, from + 1 + r.nextInt(40),
              1 + r.nextInt(commits + 1).toLong)
        }
      }
    }
  }

  // --------------------------------------------------- synthetic web

  /** `pages` HTML pages across 16 hosts: title and body over the Zipf
    * vocabulary, power-law out-links to other pages of the web (a tenth
    * nofollow) and, on one link in twenty, one of 16 dead URLs that
    * answer 404. */
  def web(pages: Int): Web = {
    val r = rng(5)
    val target = new Zipf(pages, 0.9)
    val perm = permutation(pages, rng(6))
    val dead = Array.tabulate(16)(j => s"https://h$j.example/gone/$j")
    val urls = Array.tabulate(pages)(i => pageUrl(i.toLong))
    val bodies = urls.indices.map { i =>
      val sb = new StringBuilder
      sb.append("<html><head><title>").append(words(r, 3))
        .append("</title></head><body><p>")
        .append(words(r, 30 + r.nextInt(31))).append("</p>\n")
      (0 until outDegree(r)).foreach { _ =>
        val href =
          if (r.nextDouble() < 0.05) dead(r.nextInt(dead.length))
          else urls(perm(target.draw(r)))
        val rel = if (r.nextDouble() < 0.1) " rel=\"nofollow\"" else ""
        sb.append("<a href=\"").append(href).append('"').append(rel)
          .append('>').append(vocab(termZipf.draw(r))).append("</a>\n")
      }
      sb.append("</body></html>")
      urls(i) -> sb.toString
    }.toMap
    Web(urls, bodies, dead)
  }

}

object Gen {
  final case class Doc(id: Long, text: String, prior: Double)

  final case class Link(src: Long, dst: Long, url: String)

  sealed trait Req
  final case class SearchReq(query: String, terms: Seq[String],
                             phrase: Boolean, offset: Int) extends Req
  final case class KeyReq(url: String, src: Long) extends Req
  final case class IdReq(src: Long) extends Req
  final case class RangeReq(from: Long, to: Long, tsBefore: Long) extends Req

  final case class Web(urls: Array[String], bodies: Map[String, String],
                       dead: Array[String])
}
