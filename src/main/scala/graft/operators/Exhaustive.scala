package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._

import graft.functions.TopK
import graft.functions.VectorOps._

/** Brute-force exact top-k nearest-neighbour search — the reference's
  * oracle (`vers/src/utils.rs:68-82`: sqdist to every vector, sort, take k)
  * re-expressed as declarative plans.
  *
  * Two shapes:
  *  - [[topK]]: one query vector (a driver-side literal) against the corpus →
  *    [[graft.functions.TopK.one]], which Catalyst executes as
  *    `TakeOrderedAndProject` — a per-partition bounded heap + driver merge,
  *    no full sort, no shuffle of the corpus. This is exactly the
  *    reference's bounded-heap top-k, distributed.
  *  - [[knnJoin]]: a query *table* against the corpus — broadcast the small
  *    query side (never shuffle the 100 TB corpus), nested-loop join, then
  *    per-partition bounded heaps cut each partition to ≤ k rows per query
  *    BEFORE the only shuffle, which therefore moves at most
  *    (partitions × queries × k) 24-byte triples — never a corpus-sized
  *    stream into one reducer per query. A per-qid group merge finishes
  *    the top-k. Same partial-then-merge shape the index searches use.
  *
  * At 100 TB the corpus side stays where it is: both shapes scan it once,
  * fully parallel, with column pruning (only id + vector read).
  */
object Exhaustive {

  /** Distance selector: squared L2 (IVFFlat/LSH metric), cosine distance
    * on pre-normalized vectors (HNSW metric), or negated dot product —
    * MIPS as a min-distance problem, so the shared ascending top-k drain
    * returns the k LARGEST inner products (the recommendation-serving
    * metric; for normalized vectors it ranks identically to cosine). */
  def distance(metric: String)(a: Column, b: Column): Column = metric match {
    case "sqdist" => sqDist(a, b)
    case "cosine" => cosineDistance(a, b)
    case "negdot" => lit(0.0d) - dot(a, b)
    case other    => throw new IllegalArgumentException(s"unknown metric $other")
  }

  /** Exact top-k for a single query vector given as a literal column
    * (e.g. `typedLit(vec)`). Result: (idCol, distance) ascending. */
  def topK(corpus: DataFrame, idCol: String, vecCol: String,
           query: Column, k: Int, metric: String = "sqdist"): DataFrame =
    TopK.one(
      corpus.select(col(idCol),
        distance(metric)(col(vecCol), query).as("distance")),
      k, idCol)

  /** Bounded top-k with dedup-by-id over (id, distance) candidates —
    * the executor-local merge kernel shared by the index searches
    * (LSH forest union, lsh.rs:266-282). Keeps the k smallest by
    * (distance, id); duplicate ids (same candidate reached via several
    * trees/shards, bit-identical distance) are dropped via heap
    * membership — O(k) per candidate, no unbounded seen-set. Output
    * ascending by (distance, id), distances compared as Spark SQL sorts
    * doubles (NaN after every number, NaN equal to NaN), so the cut is
    * the one [[graft.functions.TopK.one]] and [[graft.functions.TopKBuf]]
    * make whatever order the candidates arrive in.
    *
    * k-envelope: state is O(k) and the membership scan makes each group
    * O(candidates × k); callers feed ≤ (partitions|trees|shards) × k
    * candidates per qid, so the per-group cost is O(parallelism × k²)
    * and never proportional to corpus size. k is a serving-size constant
    * (10–1000); for k beyond that, swap the linear membership scan for a
    * hash set — not worth the allocation below it. */
  def topKDedup(it: Iterator[(Long, Double)], k: Int): Iterator[(Long, Double)] = {
    // max-heap on (distance, id): root = current worst of the kept k
    val ord: Ordering[(Long, Double)] = (a, b) => {
      val c = SQLOrderingUtil.compareDoubles(a._2, b._2)
      if (c != 0) c else java.lang.Long.compare(a._1, b._1)
    }
    val heap = new scala.collection.mutable.PriorityQueue[(Long, Double)]()(ord)
    it.foreach { case cand @ (id, _) =>
      if (heap.size < k) {
        if (!heap.exists(_._1 == id)) heap.enqueue(cand)
      } else if (ord.lt(cand, heap.head)) {
        if (!heap.exists(_._1 == id)) { heap.dequeue(); heap.enqueue(cand) }
      }
    }
    heap.dequeueAll.reverseIterator
  }

  /** Incremental bounded max-heap on (distance, id) keeping the k smallest
    * — the executor-local partial-top-k kernel shared by [[knnJoin]] and
    * the PQ ADC scan. Ids are assumed unique within one heap's input
    * (one corpus partition), so no dedup here. */
  private[graft] final class KHeap(k: Int) {
    private val ord = Ordering.by[(Long, Double), (Double, Long)](t => (t._2, t._1))
    private val heap = new scala.collection.mutable.PriorityQueue[(Long, Double)]()(ord)
    def insert(id: Long, d: Double): Unit =
      if (heap.size < k) heap.enqueue((id, d))
      else {
        val (wid, wd) = heap.head
        if (d < wd || (d == wd && id < wid)) { heap.dequeue(); heap.enqueue((id, d)) }
      }
    def drain: Iterator[(Long, Double)] = heap.dequeueAll.reverseIterator
  }

  /** Batch exact kNN: every row of `queries` against every row of `corpus`,
    * keep the k nearest per query. Ties broken by id so results are
    * deterministic. The query side is broadcast — REQUIRED at scale: the
    * corpus must not move. Distances are computed codegen-narrow on the
    * un-shuffled corpus; the per-query cut is
    * [[graft.functions.TopKAggExpr]]'s partial aggregation — one O(k)
    * primitive heap per query map-side (O(queries × k) memory, bounded
    * by the broadcastability of the query side), so the only shuffle
    * carries serialized partial heaps: ≤ k pairs per (task, query) no
    * matter how large the corpus is. */
  def knnJoin(queries: DataFrame, qIdCol: String, qVecCol: String,
              corpus: DataFrame, cIdCol: String, cVecCol: String,
              k: Int, metric: String = "sqdist"): DataFrame = {
    val q = broadcast(queries.select(col(qIdCol).cast("long").as("qid"),
      col(qVecCol).as("qvec")))
    val c = corpus.select(col(cIdCol).cast("long").as("id"), col(cVecCol).as("cvec"))
    TopK.perQuery(
      c.join(q).select(col("qid"), col("id"),
        distance(metric)(col("cvec"), col("qvec")).as("distance")),
      k)
  }

  /** Exact squared-L2 re-rank of a (qid, id, …) shortlist against the
    * full-precision corpus — the second stage of the quantized tiers'
    * `searchManyRefined` ([[graft.index.PQ]], [[graft.index.SQ8]],
    * [[graft.index.IVFPQ]], [[graft.index.BQ]]). The shortlist joins
    * its (broadcast) queries and broadcasts onto the corpus scan, so
    * the corpus never shuffles and only shortlist × queries rows are
    * scored; the caller gates the broadcast size. With the shortlist ⊇
    * corpus this equals float exhaustive [[knnJoin]] exactly. */
  def rerank(shortlist: DataFrame, queries: DataFrame, qIdCol: String,
             qVecCol: String, corpus: DataFrame, cIdCol: String,
             cVecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(qIdCol).cast("long").as("qid"),
      col(qVecCol).cast("array<float>").as("qvec"))
    val c = corpus.select(col(cIdCol).cast("long").as("id"),
      col(cVecCol).cast("array<float>").as("cvec"))
    val pairs = shortlist.select(col("qid"), col("id")).join(broadcast(q), "qid")
    TopK.perQuery(
      c.join(broadcast(pairs), Seq("id"))
        .select(col("qid"), col("id"), sqDist(col("cvec"), col("qvec")).as("distance")),
      k)
  }

  /** Matryoshka (prefix-dimension) kNN: shortlist on the first
    * `dPrefix` dims, exact re-rank on the full vector — the serving
    * pattern for truncation-trained embeddings (Kusupati et al. 2022),
    * where the energy-ordered prefix preserves neighborhood rank well
    * enough that a k·`factor` prefix shortlist recovers the full-dim
    * top-k.
    *
    * Scale shape: stage 1 is [[knnJoin]] over `corpusPrefix` — at
    * 100 TB that frame should be a physically separate (dPrefix/d-
    * sized) column or table so the scan reads dPrefix floats per row,
    * not a slice of the full column; stage 2 broadcasts the
    * queries × k·factor shortlist back over the full-width corpus, so
    * the big table is scanned once per stage and never shuffled
    * (the BQ.knnJoinRefined broadcast-shortlist shape). Fully
    * deterministic — both stages break ties by id — and, unlike the
    * quantized tiers, the shortlist scores are true prefix distances,
    * so dPrefix = d reproduces [[knnJoin]] bit-for-bit at any factor.
    * Output (qid, id, distance) ascending per query, distance on the
    * FULL vector. */
  def knnJoinMatryoshka(queries: DataFrame, qIdCol: String, qVecCol: String,
                        corpusPrefix: DataFrame, corpusFull: DataFrame,
                        cIdCol: String, cVecCol: String,
                        k: Int, dPrefix: Int, factor: Int,
                        metric: String = "sqdist"): DataFrame = {
    require(k >= 1 && factor >= 1, s"k=$k factor=$factor must be >= 1")
    require(dPrefix >= 1, s"dPrefix=$dPrefix must be >= 1")
    val qPrefix = queries.select(col(qIdCol),
      slice(col(qVecCol), 1, dPrefix).as(qVecCol))
    val shortlist = knnJoin(qPrefix, qIdCol, qVecCol,
        corpusPrefix, cIdCol, cVecCol, k * factor, metric)
      .select(col("qid"), col("id"))
    val q = broadcast(queries.select(col(qIdCol).cast("long").as("qid"),
      col(qVecCol).as("qvec")))
    val c = corpusFull.select(col(cIdCol).cast("long").as("id"),
      col(cVecCol).as("cvec"))
    TopK.perQuery(
      broadcast(shortlist).join(c, Seq("id"))
        .join(q, Seq("qid"))
        .select(col("qid"), col("id"),
          distance(metric)(col("cvec"), col("qvec")).as("distance")),
      k)
  }

  /** Exact radius (range) search: EVERY corpus point within `radius`
    * of each query — the FAISS range_search counterpart, for
    * "everything closer than τ" jobs (duplicate sweeps at a distance
    * threshold, recall audits) where top-k's fixed cutoff is the wrong
    * contract. Boundary is deliberately INCLUSIVE (distance ≤ radius)
    * across every metric — note this differs from FAISS, whose L2
    * range_search keeps strictly distance < radius; the engine's own
    * contract (oracles, IVF/SQ8/BQ tier twins) is uniformly ≤.
    *
    * Scale shape: broadcast the query side, scan the corpus ONCE with
    * a codegen'd distance + filter — no top-k aggregation, no shuffle
    * at all (the cheapest query shape in the file); result size is
    * data-dependent, so callers at 100 TB should write it out rather
    * than collect. Output (qid, id, distance) unordered. */
  def rangeSearch(queries: DataFrame, qIdCol: String, qVecCol: String,
                  corpus: DataFrame, cIdCol: String, cVecCol: String,
                  radius: Double, metric: String = "sqdist"): DataFrame = {
    val q = broadcast(queries.select(col(qIdCol).cast("long").as("qid"),
      col(qVecCol).as("qvec")))
    corpus.select(col(cIdCol).cast("long").as("id"), col(cVecCol).as("cvec"))
      .join(q, distance(metric)(col("cvec"), col("qvec")) <= lit(radius))
      .select(col("qid"), col("id"),
        distance(metric)(col("cvec"), col("qvec")).as("distance"))
  }

  /** Single-frame convenience: derive the prefix tier by slicing
    * `cVecCol` (correct, but scans the full column twice — at corpus
    * scale materialize the prefix as its own table and call the
    * two-frame overload). */
  def knnJoinMatryoshka(queries: DataFrame, qIdCol: String, qVecCol: String,
                        corpus: DataFrame, cIdCol: String, cVecCol: String,
                        k: Int, dPrefix: Int, factor: Int,
                        metric: String): DataFrame =
    knnJoinMatryoshka(queries, qIdCol, qVecCol,
      corpus.select(col(cIdCol), slice(col(cVecCol), 1, dPrefix).as(cVecCol)),
      corpus, cIdCol, cVecCol, k, dPrefix, factor, metric)
}
