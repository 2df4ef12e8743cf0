package graftbench

import scala.collection.mutable

/** Driver-side reference implementations the benchmark checks the
  * library's outputs against. Each is the textbook sequential algorithm,
  * written independently of the library. */
final class RefGraph(edges: Array[(Long, Long)], directed: Boolean = false) {
  /** dense index ⇄ vertex id */
  val ids: Array[Long] = edges.flatMap(e => Array(e._1, e._2)).distinct.sorted
  val n: Int = ids.length
  private val index: Map[Long, Int] = ids.zipWithIndex.toMap
  def idx(id: Long): Int = index(id)

  /** Sorted out-neighbours (both directions unless `directed`). */
  val adj: Array[Array[Int]] = {
    val b = Array.fill(n)(mutable.ArrayBuffer.empty[Int])
    edges.foreach { case (s, d) =>
      b(index(s)) += index(d)
      if (!directed) b(index(d)) += index(s)
    }
    b.map(_.distinct.sorted.toArray)
  }
  def degree(v: Int): Int = adj(v).length

  private def intersectCount(x: Array[Int], y: Array[Int]): Int = {
    var i = 0; var j = 0; var c = 0
    while (i < x.length && j < y.length) {
      if (x(i) < y(j)) i += 1 else if (x(i) > y(j)) j += 1 else { c += 1; i += 1; j += 1 }
    }
    c
  }

  /** Component label (minimum id) per vertex, by union-find. */
  def components: Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val nx = parent(y); parent(y) = r; y = nx }
      r
    }
    for (u <- 0 until n; v <- adj(u)) {
      val (a, b) = (find(u), find(v))
      if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
    }
    // dense indices are id-ordered, so the smallest root index is the min id
    (0 until n).map(u => ids(u) -> ids(find(u))).toMap
  }

  /** Per-vertex triangle counts of the undirected simple graph. */
  def triangles: Map[Long, Long] = {
    val t = new Array[Long](n)
    for (u <- 0 until n; v <- adj(u) if v > u) {
      val common = adj(u).filter(w => w > v && java.util.Arrays.binarySearch(adj(v), w) >= 0)
      common.foreach { w => t(u) += 1; t(v) += 1; t(w) += 1 }
    }
    (0 until n).map(u => ids(u) -> t(u)).toMap
  }

  def triangleTotal: Long = triangles.values.sum / 3

  /** k-core by repeated peeling: surviving vertex → degree inside the core. */
  def kCore(k: Int): Map[Long, Long] = {
    val deg = Array.tabulate(n)(degree)
    val alive = Array.fill(n)(true)
    val queue = mutable.Queue.empty[Int]
    (0 until n).foreach(u => if (deg(u) < k) { alive(u) = false; queue += u })
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      adj(u).foreach { v =>
        if (alive(v)) {
          deg(v) -= 1
          if (deg(v) < k) { alive(v) = false; queue += v }
        }
      }
    }
    (0 until n).filter(alive).map(u => ids(u) -> deg(u).toLong).toMap
  }

  /** k-truss edge set: repeatedly drop edges in fewer than k−2 triangles. */
  def kTruss(k: Int): Set[(Long, Long)] = {
    val nb = Array.tabulate(n)(u => mutable.HashSet.from(adj(u)))
    def key(u: Int, v: Int): Long = math.min(u, v).toLong << 32 | math.max(u, v)
    val support = mutable.HashMap.empty[Long, Int]
    for (u <- 0 until n; v <- adj(u) if v > u) support(key(u, v)) = intersectCount(adj(u), adj(v))
    val queue = mutable.Queue.from(support.iterator.filter(_._2 < k - 2).map(_._1))
    val removed = mutable.HashSet.empty[Long]
    while (queue.nonEmpty) {
      val e = queue.dequeue()
      if (!removed(e)) {
        removed += e
        val u = (e >>> 32).toInt; val v = (e & 0xFFFFFFFFL).toInt
        nb(u) -= v; nb(v) -= u
        val (small, big) = if (nb(u).size < nb(v).size) (nb(u), nb(v)) else (nb(v), nb(u))
        small.foreach { w =>
          if (big(w)) Seq(key(u, w), key(v, w)).foreach { f =>
            if (!removed(f)) {
              support(f) -= 1
              if (support(f) == k - 3) queue += f
            }
          }
        }
      }
    }
    support.keysIterator.filterNot(removed).map { e =>
      (ids((e >>> 32).toInt), ids((e & 0xFFFFFFFFL).toInt))
    }.toSet
  }

  /** |N(N(v)) \ N(v) \ {v}| — vertices at distance exactly 2. */
  def twoHop(id: Long): Long = {
    val u = idx(id)
    val near = mutable.HashSet.from(adj(u)) += u
    adj(u).iterator.flatMap(adj(_)).filterNot(near).toSet.size.toLong
  }

  /** Hop distances from `src`, cut off after `maxHops` hops. */
  def bfs(src: Long, maxHops: Int): Map[Long, Int] = {
    val dist = Array.fill(n)(-1)
    var frontier = Seq(idx(src)); dist(idx(src)) = 0
    var h = 0
    while (frontier.nonEmpty && h < maxHops) {
      h += 1
      frontier = frontier.flatMap(adj(_)).distinct.filter(dist(_) < 0)
      frontier.foreach(dist(_) = h)
    }
    (0 until n).filter(dist(_) >= 0).map(u => ids(u) -> dist(u)).toMap
  }

  /** Weighted distances over paths of at most `maxHops` edges
    * (synchronous Bellman-Ford); unreachable vertices are absent. */
  def boundedShortest(src: Long, maxHops: Int, w: (Long, Long) => Double): Map[Long, Double] = {
    var dist = Array.fill(n)(Double.PositiveInfinity)
    dist(idx(src)) = 0.0
    var changed = Set(idx(src))
    var h = 0
    while (changed.nonEmpty && h < maxHops) {
      h += 1
      val next = dist.clone()
      val upd = mutable.HashSet.empty[Int]
      changed.foreach { u =>
        adj(u).foreach { v =>
          val d = dist(u) + w(ids(u), ids(v))
          if (d < next(v)) { next(v) = d; upd += v }
        }
      }
      dist = next
      changed = upd.toSet
    }
    (0 until n).filter(u => !dist(u).isInfinite).map(u => ids(u) -> dist(u)).toMap
  }

  /** Delta-formulation PageRank as the library documents it for its
    * DataFrame loop: every vertex starts at rank = delta = resetProb; each
    * round, vertices with delta > tolerance send delta/outDegree along
    * out-edges; rank += (1−resetProb)·Σ, delta = (1−resetProb)·Σ. */
  def pageRankDelta(tolerance: Double, resetProb: Double, maxIter: Int): Map[Long, Double] = {
    val rank = Array.fill(n)(resetProb)
    var delta = Array.fill(n)(resetProb)
    var it = 0
    while (it < maxIter && delta.exists(_ > tolerance)) {
      val msg = new Array[Double](n)
      (0 until n).foreach { u =>
        if (delta(u) > tolerance && adj(u).nonEmpty) {
          val share = delta(u) / adj(u).length
          adj(u).foreach(v => msg(v) += share)
        }
      }
      delta = msg.map(_ * (1 - resetProb))
      (0 until n).foreach(u => rank(u) += delta(u))
      it += 1
    }
    (0 until n).map(u => ids(u) -> rank(u)).toMap
  }

  /** Replay of the vertex-centric PageRank over `supersteps` supersteps:
    * superstep 0 only re-sends the initial message resetProb/(1−resetProb)
    * to itself; afterwards a messaged vertex adds (1−resetProb)·Σ to its
    * rank, and forwards the increase/outDegree while it exceeds the
    * tolerance. Returns (rank, last increase) per vertex. */
  def pregelPageRank(supersteps: Int, tolerance: Double,
                     resetProb: Double): Map[Long, (Double, Double)] = {
    val rank = new Array[Double](n)
    val delta = new Array[Double](n)
    var inbox: Map[Int, Double] =
      if (supersteps > 1) (0 until n).map(_ -> resetProb / (1 - resetProb)).toMap else Map.empty
    (1 until supersteps).foreach { _ =>
      val out = mutable.HashMap.empty[Int, Double]
      inbox.foreach { case (u, sum) =>
        val nr = rank(u) + (1 - resetProb) * sum
        delta(u) = nr - rank(u)
        rank(u) = nr
        if (delta(u) > tolerance) adj(u).foreach { v =>
          out(v) = out.getOrElse(v, 0.0) + delta(u) / adj(u).length
        }
      }
      inbox = out.toMap
    }
    (0 until n).map(u => ids(u) -> ((rank(u), delta(u)))).toMap
  }

  /** Replay of the vertex-centric connected-components rule over
    * `supersteps` supersteps: superstep 0 runs every vertex, later ones
    * only the messaged vertices; a vertex takes the minimum of its label
    * and its messages, then, along every out-edge, sends its label to a
    * larger neighbour or the neighbour's id to the vertex named by its
    * label (the label-repair channel). */
  def pregelWcc(supersteps: Int): Map[Long, Long] = {
    val label = ids.clone()
    var inbox = Map.empty[Int, Long]
    (0 until supersteps).foreach { s =>
      val active = if (s == 0) (0 until n) else inbox.keys
      val out = mutable.HashMap.empty[Int, Long]
      def send(to: Int, m: Long): Unit = out(to) = math.min(out.getOrElse(to, Long.MaxValue), m)
      active.foreach { v =>
        val cur = math.min(label(v), inbox.getOrElse(v, Long.MaxValue))
        label(v) = cur
        adj(v).foreach { t =>
          if (cur < ids(t)) send(t, cur)
          else if (cur > ids(t)) send(idx(cur), ids(t))
        }
      }
      inbox = out.toMap
    }
    (0 until n).map(u => ids(u) -> label(u)).toMap
  }

  /** Replay of vertex-centric label propagation over `supersteps`
    * supersteps: every vertex sends its label along every out-edge each
    * superstep; a vertex adopts the most frequent incoming label (ties to
    * the larger label) only if it is larger than its own. */
  def pregelLabelPropagation(supersteps: Int): Map[Long, Long] = {
    var label = ids.clone()
    (1 until supersteps).foreach { _ =>
      val counts = Array.fill(n)(mutable.HashMap.empty[Long, Long])
      (0 until n).foreach(u => adj(u).foreach(v => counts(v)(label(u)) = counts(v).getOrElse(label(u), 0L) + 1))
      label = Array.tabulate(n) { v =>
        if (counts(v).isEmpty) label(v)
        else {
          val best = counts(v).maxBy { case (l, c) => (c, l) }._1
          if (label(v) < best) best else label(v)
        }
      }
    }
    (0 until n).map(u => ids(u) -> label(u)).toMap
  }
}

object Reference {
  /** Levenshtein distance. */
  def levenshtein(a: String, b: String): Int = {
    var prev = Array.tabulate(b.length + 1)(identity)
    var cur = new Array[Int](b.length + 1)
    for (i <- 1 to a.length) {
      cur(0) = i
      for (j <- 1 to b.length) {
        val c = if (a(i - 1) == b(j - 1)) 0 else 1
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1), prev(j - 1) + c)
      }
      val t = prev; prev = cur; cur = t
    }
    prev(b.length)
  }

  /** Normalisation the dedup operators document: lower-case, trim,
    * collapse whitespace runs to one space. */
  def norm(s: String): String = s.trim.toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ")

  /** Distinct word n-gram shingles of the normalised text. */
  def shingles(s: String, k: Int = 3): Set[String] = {
    val t = norm(s).split(" ")
    if (t.length < k) Set.empty else t.sliding(k).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    (a intersect b).size.toDouble / (a union b).size

  /** MinHash-LSH clusters of the given signatures: two docs are candidates
    * when their signatures agree on every slot of some band of
    * `rowsPerBand` slots, a candidate pair is kept when the share of equal
    * slots is at least `threshold`, and every doc maps to the minimum id of
    * its connected component (union-find). */
  def lshClusters(sigs: Map[Long, Seq[Long]], rowsPerBand: Int, threshold: Double): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long] ++= sigs.keys.map(i => i -> i)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      parent(x) = r
      r
    }
    def agree(a: Seq[Long], b: Seq[Long]): Double =
      a.zip(b).count { case (x, y) => x == y }.toDouble / a.length
    val byBand = sigs.toSeq.flatMap { case (i, s) =>
      s.grouped(rowsPerBand).zipWithIndex.map { case (slots, band) => (band, slots) -> i }
    }.groupBy(_._1)
    byBand.values.foreach { g =>
      val members = g.map(_._2).sorted
      for (a <- members; b <- members if a < b && agree(sigs(a), sigs(b)) >= threshold) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    }
    sigs.keys.map(i => i -> find(i)).toMap
  }

  /** Byte-pair-encoding merge table learned greedily from character
    * symbols of the normalised text (spaces become the boundary marker,
    * merges never cross it): each merge takes the most frequent adjacent
    * pair (ties to the smaller left, then right symbol) and merges every
    * non-overlapping occurrence left to right. */
  def bpe(texts: Seq[String], iters: Int): Seq[(String, String, Long)] = {
    var seqs = texts.map(t => norm(t).map(c => if (c == ' ') "¶" else c.toString).toArray)
    val out = mutable.ArrayBuffer.empty[(String, String, Long)]
    var it = 0
    var done = false
    while (it < iters && !done) {
      val counts = mutable.HashMap.empty[(String, String), Long]
      seqs.foreach { s =>
        var i = 0
        while (i + 1 < s.length) {
          if (!s(i).contains("¶") && !s(i + 1).contains("¶"))
            counts((s(i), s(i + 1))) = counts.getOrElse((s(i), s(i + 1)), 0L) + 1
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((l, r), c) = counts.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
        out += ((l, r, c))
        seqs = seqs.map { s =>
          val b = mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < s.length) {
            if (i + 1 < s.length && s(i) == l && s(i + 1) == r) { b += l + r; i += 2 }
            else { b += s(i); i += 1 }
          }
          b.toArray
        }
        it += 1
      }
    }
    out.toSeq
  }
}
