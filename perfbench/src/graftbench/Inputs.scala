package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators. The same seed always gives the same inputs;
  * the library only ever sees what these return. */
object Inputs {

  /** splitmix64 finaliser: a seeded hash for deriving sub-seeds and
    * per-item choices. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def subSeed(seed: Long, tag: String): Long = mix(seed ^ mix(tag.hashCode.toLong))

  // ---- graphs ------------------------------------------------------------

  /** R-MAT edge list (Chakrabarti et al.) with the Graph500 quadrant
    * probabilities (0.57, 0.19, 0.19, 0.05), `edgeFactor · 2^scale` raw
    * directed edges drawn with `shapeSeed`. Vertex ids are then relabelled
    * by a bijection of [0, 2^scale) drawn from `labelSeed`, and the edge
    * order is shuffled with it. Raw edges keep duplicates and self-loops,
    * as a generator stream would. */
  def rmat(shapeSeed: Long, labelSeed: Long, scale: Int, edgeFactor: Int): Array[(Long, Long)] = {
    val rng = new SplittableRandom(shapeSeed)
    val edges = Array.fill(edgeFactor << scale) {
      var s = 0L
      var d = 0L
      var bit = 0
      while (bit < scale) {
        val r = rng.nextDouble()
        val (qs, qd) =
          if (r < 0.57) (0, 0) else if (r < 0.76) (0, 1) else if (r < 0.95) (1, 0) else (1, 1)
        s = (s << 1) | qs
        d = (d << 1) | qd
        bit += 1
      }
      (s, d)
    }
    val label = permutation(labelSeed, 1 << scale)
    val shuffle = new SplittableRandom(labelSeed ^ 0x5DEECE66DL)
    var i = edges.length - 1
    while (i > 0) {
      val j = shuffle.nextInt(i + 1)
      val t = edges(i); edges(i) = edges(j); edges(j) = t
      i -= 1
    }
    edges.map { case (s, d) => (label(s.toInt), label(d.toInt)) }
  }

  /** Seeded uniform permutation of 0 until n (Fisher-Yates). */
  def permutation(seed: Long, n: Int): Array[Long] = {
    val r = new SplittableRandom(seed)
    val p = Array.tabulate(n)(_.toLong)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = p(i); p(i) = p(j); p(j) = t
      i -= 1
    }
    p
  }

  /** Simple undirected edge set: (min, max) pairs, self-loops dropped,
    * duplicates removed, sorted. */
  def canonical(raw: Array[(Long, Long)]): Array[(Long, Long)] =
    raw.iterator.filter(e => e._1 != e._2)
      .map(e => if (e._1 < e._2) e else (e._2, e._1))
      .toArray.distinct.sorted

  /** Symmetric weight 1..9 of an undirected edge. */
  def weight(seed: Long, a: Long, b: Long): Int =
    (java.lang.Long.remainderUnsigned(mix(seed ^ mix(math.min(a, b) * 31 + math.max(a, b))), 9) + 1).toInt

  // ---- documents ---------------------------------------------------------

  /** A document corpus with planted duplicates.
    * @param docs       (doc_id, text)
    * @param nearPairs  (original id, copy id): the copy drops one word
    * @param exactPairs (original id, copy id): identical text */
  final case class Corpus(docs: Array[(Long, String)],
                          nearPairs: Array[(Long, Long)],
                          exactPairs: Array[(Long, Long)])

  /** Seeded vocabulary of lowercase pseudo-words, 2 to 7 letters, so that
    * dropping one word (and its space) is an edit of at most 8 characters. */
  final class Vocabulary(seed: Long, size: Int) {
    private val rng = new SplittableRandom(seed)
    val words: Array[String] = {
      val seen = mutable.LinkedHashSet.empty[String]
      while (seen.size < size) {
        val len = 2 + rng.nextInt(6)
        seen += Array.fill(len)(('a' + rng.nextInt(26)).toChar).mkString
      }
      seen.toArray
    }
    /** Zipf(1) cumulative weights over the word ranks. */
    private val cdf: Array[Double] = {
      val w = Array.tabulate(size)(i => 1.0 / (i + 1))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def sample(r: SplittableRandom): String = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      words(math.min(if (i >= 0) i else -i - 1, size - 1))
    }
  }

  private def text(v: Vocabulary, r: SplittableRandom): Array[String] =
    Array.fill(40 + r.nextInt(41))(v.sample(r))

  private def dropOne(words: Array[String], r: SplittableRandom): String = {
    val i = r.nextInt(words.length)
    (words.take(i) ++ words.drop(i + 1)).mkString(" ")
  }

  /** `n` original documents of 40 to 80 Zipf words, plus a near-duplicate
    * copy (one word dropped) of every 4th original and an exact copy of
    * every 20th. Ids start at `firstId`; originals come first. */
  def corpus(seed: Long, v: Vocabulary, n: Int, firstId: Long): Corpus = {
    val r = new SplittableRandom(seed)
    val originals = Array.fill(n)(text(v, r))
    val docs = mutable.ArrayBuffer.empty[(Long, String)]
    originals.zipWithIndex.foreach { case (w, i) => docs += ((firstId + i, w.mkString(" "))) }
    var next = firstId + n
    val near = mutable.ArrayBuffer.empty[(Long, Long)]
    val exact = mutable.ArrayBuffer.empty[(Long, Long)]
    originals.indices.foreach { i =>
      if (i % 4 == 0) {
        docs += ((next, dropOne(originals(i), r))); near += ((firstId + i, next)); next += 1
      }
      if (i % 20 == 0) {
        docs += ((next, originals(i).mkString(" "))); exact += ((firstId + i, next)); next += 1
      }
    }
    Corpus(docs.toArray, near.toArray, exact.toArray)
  }

  /** An ingest delta: `n` new documents plus near-duplicate copies of `n`
    * seeded base documents, with ids from `firstId`. */
  def delta(seed: Long, v: Vocabulary, base: Array[(Long, String)], n: Int,
            firstId: Long): Corpus = {
    val r = new SplittableRandom(seed)
    val fresh = Array.tabulate(n)(i => (firstId + i, text(v, r).mkString(" ")))
    val near = mutable.ArrayBuffer.empty[(Long, Long)]
    val copies = Array.tabulate(n) { i =>
      val (bid, btext) = base(r.nextInt(base.length))
      val id = firstId + n + i
      near += ((bid, id))
      (id, dropOne(btext.split(" "), r))
    }
    Corpus(fresh ++ copies, near.toArray, Array.empty)
  }
}
