package perfbench

import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded input generators. Everything graft sees is made here from the
  * workload seed; the same seed gives byte-identical inputs.
  *
  * Text is lowercase letter-run words, twelve to a line, drawn from a
  * Zipf(1.0) law over a pseudo-word vocabulary whose head is the eight
  * Gopher stop words, so ordinary documents pass the Gopher quality
  * gate (mean word length 3-10, >= 2 stop words, no symbols, no
  * repeated lines) and fail it only when planted short. */
final class Vocab(seed: Long, val size: Int, avoid: String => Boolean = _ => false,
    head: Seq[String] = Vocab.Stops) {
  val words: Array[String] = {
    val rng = new SplittableRandom(seed)
    val seen = mutable.HashSet[String](head: _*)
    val out = mutable.ArrayBuffer[String](head: _*)
    while (out.size < size) {
      val len = 3 + rng.nextInt(7)
      val w = new String(Array.fill(len)(('a' + rng.nextInt(26)).toChar))
      if (!avoid(w) && seen.add(w)) out += w
    }
    out.toArray
  }
  private val cdf: Array[Double] = {
    val c = new Array[Double](size)
    var acc = 0.0
    var i = 0
    while (i < size) { acc += 1.0 / (i + 1); c(i) = acc; i += 1 }
    c
  }
  def draw(rng: SplittableRandom): String = {
    val u = rng.nextDouble() * cdf(size - 1)
    var lo = 0
    var hi = size - 1
    while (lo < hi) { val mid = (lo + hi) >>> 1; if (cdf(mid) < u) lo = mid + 1 else hi = mid }
    words(lo)
  }
  def doc(rng: SplittableRandom, nWords: Int): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < nWords) {
      if (i > 0) sb.append(if (i % 12 == 0) '\n' else ' ')
      sb.append(draw(rng))
      i += 1
    }
    sb.toString
  }
  /** A near-duplicate twin: the original plus a two-word coda, which
    * adds two word-3-gram shingles (Jaccard >= 0.93 at >= 60 words). */
  def twin(rng: SplittableRandom, text: String): String =
    text + " " + draw(rng) + " " + draw(rng)
}

object Vocab {
  val Stops: Seq[String] = Seq("the", "be", "to", "of", "and", "that", "have", "with")
}

final case class Doc(doc_id: Long, text: String)

/** The `corpus` workload input.
  *
  * ids 1..nBase: base documents, 60-140 words; ~3% of them start with
  * one of five fixed 8-word boilerplate headers (a whole excisable
  * block). ids above nBase: planted duplicates, each an exact copy or a
  * near twin of a distinct base document (one or two per family). */
final case class Corpus(
    docs: Vector[Doc],
    nBase: Int,
    family: Map[Long, Long], // doc id -> family root id (planted docs and their roots only)
    boilerplated: Int) {
  def known(id: Long): Boolean = id % 4 == 0 && id <= nBase
}

object Gen {
  def corpus(seed: Long, nBase: Int): Corpus = {
    val vocab = new Vocab(seed ^ 0x5eed1L, 50000)
    val rng = new SplittableRandom(seed)
    val headers = Vector.fill(5)(Vector.fill(8)(vocab.draw(rng)).mkString(" "))
    var boiler = 0
    val base = (1 to nBase).map { i =>
      val body = vocab.doc(rng, 8 * (8 + rng.nextInt(10)))
      val text =
        if (rng.nextInt(100) < 3) { boiler += 1; headers(rng.nextInt(5)) + "\n" + body }
        else body
      Doc(i.toLong, text)
    }.toVector
    val nFamilies = nBase / 25
    val roots = pickDistinct(rng, nFamilies, nBase)
    val family = mutable.HashMap[Long, Long]()
    val planted = mutable.ArrayBuffer[Doc]()
    var next = nBase.toLong + 1
    roots.foreach { r =>
      family(r) = r
      val copies = 1 + rng.nextInt(2)
      (0 until copies).foreach { _ =>
        val src = base(r.toInt - 1).text
        val text = if (rng.nextBoolean()) src else vocab.twin(rng, src)
        planted += Doc(next, text)
        family(next) = r
        next += 1
      }
    }
    Corpus(base ++ planted, nBase, family.toMap, boiler)
  }

  private def pickDistinct(rng: SplittableRandom, n: Int, outOf: Int): Vector[Long] = {
    val s = mutable.LinkedHashSet[Long]()
    while (s.size < n) s += (1 + rng.nextInt(outOf)).toLong
    s.toVector
  }

  /** The `ingest` workload input: a seed lake of gate-passing docs, a
    * stream in arrival order, and a small eval set on a disjoint
    * vocabulary (so decontamination is exercised but flags nothing).
    *
    * Stream make-up (shares of `nStream`): 15% gate failures (10-40
    * words, under the 50-word floor), 5% near twins of distinct lake
    * docs, 5% near twins of distinct EARLIER gate-passing stream docs,
    * the rest fresh gate-passing docs (60-120 words). */
  final case class Ingest(
      lake: Vector[Doc],
      stream: Vector[Doc],
      eval: Vector[Doc],
      gateFail: Set[Long],
      twinOf: Map[Long, Long]) // planted twin id -> original id

  def ingest(seed: Long, nLake: Int, nStream: Int): Ingest = {
    val vocab = new Vocab(seed ^ 0x1a6eL, 20000, _.startsWith("q"))
    val evalVocab = new Vocab(seed ^ 0xe7a1L, 2000, !_.startsWith("q"), head = Nil)
    val rng = new SplittableRandom(seed)
    val lake = (1 to nLake).map(i => Doc(i.toLong, vocab.doc(rng, 60 + rng.nextInt(61)))).toVector
    val eval = (1 to 20).map(i => Doc(i.toLong, evalVocab.doc(rng, 80))).toVector
    val usedLake = mutable.HashSet[Long]()
    val copied = mutable.HashSet[Long]()
    val fresh = mutable.ArrayBuffer[Long]()
    val gateFail = mutable.HashSet[Long]()
    val twinOf = mutable.HashMap[Long, Long]()
    val stream = mutable.ArrayBuffer[Doc]()
    (0 until nStream).foreach { k =>
      val id = (nLake + 1 + k).toLong
      val roll = rng.nextInt(100)
      val text =
        if (roll < 15) { gateFail += id; vocab.doc(rng, 10 + rng.nextInt(31)) }
        else if (roll < 20 && usedLake.size < nLake) {
          var src = 1L + rng.nextInt(nLake)
          while (usedLake(src)) src = 1L + rng.nextInt(nLake)
          usedLake += src; twinOf(id) = src
          vocab.twin(rng, lake(src.toInt - 1).text)
        } else if (roll < 25 && fresh.exists(f => !copied(f))) {
          val open = fresh.filterNot(copied)
          val src = open(rng.nextInt(open.size))
          copied += src; twinOf(id) = src
          vocab.twin(rng, stream((src - nLake - 1).toInt).text)
        } else { fresh += id; vocab.doc(rng, 60 + rng.nextInt(61)) }
      stream += Doc(id, text)
    }
    Ingest(lake, stream.toVector, eval, gateFail.toSet, twinOf.toMap)
  }
}
