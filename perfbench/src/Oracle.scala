package perfbench

import scala.collection.mutable

/** Ground truth computed without the engine: exact top-k by a plain
  * brute-force loop over the generated arrays (none of the engine's
  * `functions` or `Exhaustive` kernels), and dedup truth from the
  * planted pairs. */
object Oracle {

  def sqDist(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var j = 0
    while (j < a.length) { val d = a(j).toDouble - b(j); s += d * d; j += 1 }
    s
  }

  /** Exact top-k ids of each query over `corpus`, nearest first (ties by
    * id). Queries run in parallel; each is a sequential scan. */
  def topK(corpus: Vecs, queries: Array[Array[Float]], k: Int): Array[Array[Long]] = {
    val out = new Array[Array[Long]](queries.length)
    java.util.stream.IntStream.range(0, queries.length).parallel().forEach { qi =>
      val q = queries(qi)
      val bestD = Array.fill(k)(Double.MaxValue)
      val bestI = Array.fill(k)(Long.MaxValue)
      var i = 0
      while (i < corpus.size) {
        val d = sqDist(q, corpus.vecs(i)); val id = corpus.ids(i)
        if (d < bestD(k - 1) || (d == bestD(k - 1) && id < bestI(k - 1))) {
          var p = k - 1
          while (p > 0 && (d < bestD(p - 1) || (d == bestD(p - 1) && id < bestI(p - 1)))) {
            bestD(p) = bestD(p - 1); bestI(p) = bestI(p - 1); p -= 1
          }
          bestD(p) = d; bestI(p) = id
        }
        i += 1
      }
      out(qi) = bestI
    }
    out
  }

  /** |returned ∩ truth| / |truth|. */
  def recall(returned: Iterable[Long], truth: Array[Long]): Double = {
    val r = returned.toSet
    truth.count(r.contains).toDouble / truth.length
  }

  /** Ids a keep-first dedup must drop: the higher id of each planted
    * pair (pairs are disjoint, so each component is exactly one pair). */
  def losers(pairs: Set[(Long, Long)]): Set[Long] = pairs.map(_._2)

  /** Connected components of an undirected edge set, by union-find: each
    * id on an edge → the smallest id of its component. */
  def components(edges: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val root = find(p); parent(x) = root; root }
    }
    // the smaller root wins, so every root is its component's minimum
    for ((a, b) <- edges) {
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  def f1(predicted: Set[Long], truth: Set[Long]): Double = {
    val tp = predicted.count(truth.contains).toDouble
    if (tp == 0) 0.0 else 2 * tp / (predicted.size + truth.size)
  }
}
