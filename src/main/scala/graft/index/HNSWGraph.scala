package graft.index

import scala.collection.mutable

/** Pure single-shard HNSW graph — the algorithmic core of
  * `vers/src/indexes/hnsw.rs`, re-implemented from the reference's
  * semantics and the HNSW paper it cites (Malkov & Yashunin,
  * arXiv:1603.09320, cited at hnsw.rs:114). No Spark types here: one shard
  * builds executor-locally inside mapPartitions (see [[HNSW]]), which is
  * what makes the index scale — shards parallelize across the cluster
  * while each preserves the reference's sequential-insert semantics
  * (hnsw.rs:472-475).
  *
  * Metric: cosine distance `1 − a·b` on pre-normalized vectors, exactly
  * the reference's choice everywhere (hnsw.rs:258,273; base.rs:128-156).
  *
  * Deviations (documented per SURVEY §7):
  *  - insertion levels come from a seeded per-id hash, not unseeded
  *    `thread_rng` (hnsw.rs:335-346) — determinism;
  *  - the entry point is the first top-layer node by insertion order, not
  *    HashMap iteration order (hnsw.rs:516);
  *  - the reference's `num_layers == 1` empty-result hole
  *    (hnsw.rs:526-536) is fixed: layer 0 is always searched.
  */
class HNSWGraph(val params: HNSWGraph.Params) extends Serializable {
  import HNSWGraph._

  /** external ids, internal index = position */
  val ids = mutable.ArrayBuffer.empty[Long]
  val vecs = mutable.ArrayBuffer.empty[Array[Float]]
  val levels = mutable.ArrayBuffer.empty[Int]
  /** adj(layer)(node) = neighbour internal indexes; node present iff
    * levels(node) >= layer */
  val adj: Array[mutable.Map[Int, mutable.ArrayBuffer[Int]]] =
    Array.fill(params.numLayers)(mutable.Map.empty)
  private var entryPoint: Int = -1

  private val layerMult = 1.0 / math.log(params.m.toDouble)

  @inline private def dist(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    1.0 - s
  }
  @inline private def distTo(node: Int, q: Array[Float]): Double = dist(vecs(node), q)

  /** Seeded level draw ⌊−ln(U)·mult⌋ capped at numLayers−1
    * (hnsw.rs:335-346), U a per-id hash → insert-order independent. */
  def levelOf(id: Long): Int = {
    val h = scala.util.hashing.MurmurHash3.productHash((id, params.seed))
    val u = ((h & 0x7fffffffL) + 1.0) / (0x80000000L.toDouble) // (0, 1]
    math.min((-math.log(u) * layerMult).toInt, params.numLayers - 1)
  }

  /** Best-first beam search within one layer (hnsw.rs:242-307): bounded
    * result heap of size ef, expand closest-first, visited set. Returns
    * (internalIdx, distance) ascending by distance.
    *
    * Hot path of both build and serve: primitive-array heaps + a BitSet
    * visited set (no per-node tuple boxing) — physical optimization only,
    * identical result semantics (ties broken by the final (dist, idx)
    * sort, as before). */
  def searchLayer(q: Array[Float], entry: Int, ef: Int, layer: Int): Vector[(Int, Double)] = {
    val visited = new java.util.BitSet(ids.length)
    visited.set(entry)
    val cand = new HNSWGraph.MinHeap(math.max(16, ef))    // explore closest first
    val res = new HNSWGraph.MaxHeap(ef + 1)               // bounded worst-out
    val d0 = distTo(entry, q)
    cand.push(d0, entry)
    res.push(d0, entry)
    var done = false
    while (!done && cand.size > 0) {
      val cDist = cand.topPrio
      val c = cand.pop()
      if (cDist > res.topPrio && res.size >= ef) {
        done = true // closest candidate is worse than worst result
      } else {
        val nbrs = adj(layer).getOrElse(c, null)
        if (nbrs != null) {
          var i = 0
          while (i < nbrs.length) {
            val n = nbrs(i)
            if (!visited.get(n)) {
              visited.set(n)
              val d = distTo(n, q)
              if (res.size < ef || d < res.topPrio) {
                cand.push(d, n)
                res.push(d, n)
                if (res.size > ef) res.pop()
              }
            }
            i += 1
          }
        }
      }
    }
    val out = new Array[(Int, Double)](res.size)
    var i = res.size - 1
    while (i >= 0) { val d = res.topPrio; out(i) = (res.pop(), d); i -= 1 }
    out.toVector.sortBy(t => (t._2, t._1))
  }

  /** The reference's diversity pruning (hnsw.rs:104-164, paper Alg. 4
    * with extendCandidates/keepPruned off): scan ascending, keep e only
    * if d(q,e) < d(r,e) for every kept r. */
  def heuristicSelect(q: Array[Float], candidates: Seq[(Int, Double)], m: Int): Seq[Int] = {
    val kept = mutable.ArrayBuffer.empty[Int]
    val it = candidates.sortBy(t => (t._2, t._1)).iterator
    while (it.hasNext && kept.size < m) {
      val (e, dQE) = it.next()
      if (kept.forall(r => dQE < dist(vecs(e), vecs(r)))) kept += e
    }
    kept.toSeq
  }

  private def maxDegree(layer: Int): Int =
    if (layer == 0) 2 * params.m else params.m // layer 0 uses 2·M (hnsw.rs:400-404)

  private def link(layer: Int, a: Int, b: Int): Unit = {
    adj(layer).getOrElseUpdate(a, mutable.ArrayBuffer.empty) += b
    adj(layer).getOrElseUpdate(b, mutable.ArrayBuffer.empty) += a
  }

  /** Re-prune a node whose degree exceeded the cap, with the same
    * heuristic (hnsw.rs:166-198). */
  private def trimNode(layer: Int, node: Int): Unit = {
    val nbrs = adj(layer)(node)
    val cap = maxDegree(layer)
    if (nbrs.length > cap) {
      val q = vecs(node)
      val scored = nbrs.distinct.map(n => (n, distTo(n, q)))
      val keep = heuristicSelect(q, scored.toSeq, cap)
      adj(layer)(node) = mutable.ArrayBuffer(keep: _*)
    }
  }

  /** Full insert (hnsw.rs:348-432): greedy descent above the insertion
    * layer, beam-search + heuristic link + neighbour re-trim on each
    * layer at or below it; first node bootstraps every layer it reaches. */
  def insert(id: Long, vec: Array[Float]): Unit = {
    val idx = ids.length
    ids += id; vecs += vec
    val level = levelOf(id)
    levels += level
    if (entryPoint < 0) {
      for (l <- 0 to level) adj(l)(idx) = mutable.ArrayBuffer.empty
      entryPoint = idx
      return
    }
    val topLayer = levels(entryPoint)
    var ep = entryPoint
    // greedy descent, ef=1, layers above the insertion layer (hnsw.rs:374-384)
    var l = topLayer
    while (l > level) {
      val best = searchLayer(vec, ep, 1, l)
      if (best.nonEmpty) ep = best.head._1
      l -= 1
    }
    // link layers min(level, topLayer) .. 0
    var layer = math.min(level, topLayer)
    while (layer >= 0) {
      val cands = searchLayer(vec, ep, params.efConstruction, layer)
      val nbrs = heuristicSelect(vec, cands, maxDegree(layer))
      adj(layer)(idx) = mutable.ArrayBuffer.empty
      nbrs.foreach { n =>
        link(layer, idx, n)
        trimNode(layer, n)
      }
      if (cands.nonEmpty) ep = cands.head._1
      layer -= 1
    }
    // node reaches above current top: solitary on the higher layers, new entry
    if (level > topLayer) {
      for (l2 <- topLayer + 1 to level) adj(l2).getOrElseUpdate(idx, mutable.ArrayBuffer.empty)
      entryPoint = idx
    }
  }

  /** Top-k search (hnsw.rs:510-548 with the single-layer hole fixed):
    * beam ef_search from the top layer down, re-entry per layer, layer 0
    * candidates → k closest ascending. */
  def searchKnn(q: Array[Float], k: Int): Seq[(Long, Double)] = {
    if (entryPoint < 0) return Seq.empty
    // dist loops over the node's length: a short query would throw
    // mid-search and a long one would be scored on a prefix
    require(q.length == vecs(entryPoint).length,
      s"HNSW query dim ${q.length} != index dim ${vecs(entryPoint).length}")
    var ep = entryPoint
    var layer = levels(entryPoint)
    while (layer > 0) {
      val found = searchLayer(q, ep, params.efSearch, layer)
      if (found.nonEmpty) ep = found.head._1
      layer -= 1
    }
    searchLayer(q, ep, math.max(params.efSearch, k), 0)
      .take(k).map { case (i, d) => (ids(i), d) }
  }

  def size: Int = ids.length

  /** Per-layer node counts (hnsw.rs:480-485 diagnostics). */
  def layerSizes: Map[Int, Int] =
    adj.zipWithIndex.map { case (m, l) => l -> m.size }.filter(_._2 > 0).toMap
}

object HNSWGraph {
  case class Params(numLayers: Int = 8, efConstruction: Int = 100,
                    efSearch: Int = 64, m: Int = 16, seed: Long = 42L)

  /** Primitive binary heap (parallel double/int arrays, no boxing). */
  private[index] sealed abstract class PrimHeap(initCap: Int) {
    protected var prio = new Array[Double](math.max(4, initCap))
    protected var value = new Array[Int](math.max(4, initCap))
    var size = 0
    protected def before(a: Double, b: Double): Boolean
    def topPrio: Double = prio(0)
    def push(p: Double, v: Int): Unit = {
      if (size == prio.length) {
        prio = java.util.Arrays.copyOf(prio, size * 2)
        value = java.util.Arrays.copyOf(value, size * 2)
      }
      var i = size; size += 1
      prio(i) = p; value(i) = v
      while (i > 0 && before(prio(i), prio((i - 1) / 2))) {
        swap(i, (i - 1) / 2); i = (i - 1) / 2
      }
    }
    def pop(): Int = {
      val top = value(0)
      size -= 1
      prio(0) = prio(size); value(0) = value(size)
      var i = 0
      var again = true
      while (again) {
        val l = 2 * i + 1; val r = l + 1
        var b = i
        if (l < size && before(prio(l), prio(b))) b = l
        if (r < size && before(prio(r), prio(b))) b = r
        if (b == i) again = false else { swap(i, b); i = b }
      }
      top
    }
    private def swap(a: Int, b: Int): Unit = {
      val tp = prio(a); prio(a) = prio(b); prio(b) = tp
      val tv = value(a); value(a) = value(b); value(b) = tv
    }
  }
  private[index] final class MinHeap(c: Int) extends PrimHeap(c) {
    protected def before(a: Double, b: Double): Boolean = a < b
  }
  private[index] final class MaxHeap(c: Int) extends PrimHeap(c) {
    protected def before(a: Double, b: Double): Boolean = a > b
  }

  def build(params: Params, rows: Iterator[(Long, Array[Float])]): HNSWGraph = {
    val g = new HNSWGraph(params)
    rows.foreach { case (id, v) => g.insert(id, v) }
    g
  }
}
