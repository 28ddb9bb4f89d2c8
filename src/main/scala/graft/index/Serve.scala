package graft.index

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.functions.TopKBuf

/** Warm serving without per-call Catalyst planning. A warmed tier keeps
  * its rows resident as a plain RDD ([[Resident]]); [[topK]] answers one
  * query and [[topKMany]] a collected batch with one `runJob` over it:
  * no Dataset is built, optimized or code-generated per call, and
  * nothing shuffles. Paying the query-independent work once per
  * session, at `warm()`, is the incremental top-k session idea (EDBT 2020,
  * PAPERS.md); serving from worker-resident decoded state with a direct
  * partition job is the in-memory design of the ICDE 2019 trajectory
  * search (PAPERS.md), the Spark face of the reference's in-memory
  * inverted lists (`vers/src/indexes/ivfflat.rs:122-130`). */
object Serve {

  /** The (qid, id, distance) schema of every batch `searchMany` plan
    * the warm path replaces (IVFFlat, HNSW, LSHForest): each column
    * comes from a primitive Scala tuple or from the non-null struct of
    * [[graft.functions.TopKAggExpr]], so none is nullable. */
  val Batch: StructType = StructType(Seq(
    StructField("qid", LongType, nullable = false),
    StructField("id", LongType, nullable = false),
    StructField("distance", DoubleType, nullable = false)))

  /** A task's scan: it inserts each (distance, id) it scores for query
    * `q` (a position in the batch) into `bufs(q)`. It runs on the
    * executors, so it must capture locals only, never a model. */
  type Score[T] = (Iterator[T], Bufs) => Unit

  /** [[topKMany]] for one query (position 0) and no qid column: the ≤ k
    * nearest, ascending by (distance, id), as a local (id, distance)
    * frame with `schema` (the cold plan's, so callers cannot tell the
    * paths apart). Collecting the result runs no job. */
  def topK[T](rdd: RDD[T], partitions: Seq[Int], k: Int, schema: StructType)
             (score: Score[T]): DataFrame = {
    val b = merged(rdd, partitions, k, 1)(score)(0)
    local(b.sortedIdx.toSeq.map(i => Row(b.ids(i), b.ds(i))), schema)
  }

  /** One job over `partitions` of `rdd` for a collected query batch:
    * each task runs `score` over its records, holds a [[TopKBuf]] of
    * `k` only for the queries it scores and ships ≤ k (distance, id)
    * pairs for each; the driver merges them per query in the (distance,
    * id) order of [[graft.functions.TopK.one]] and returns a local
    * (qid, id, distance) frame with schema [[Batch]], each query's rows
    * ascending and the queries in batch order. Collecting the result
    * runs no job. `qids` must be distinct: rows are keyed by batch
    * position, so a repeated qid would come back as two separate cuts
    * (callers take the cold plan instead, [[distinct]]). An empty batch
    * or k = 0 runs no job. */
  def topKMany[T](rdd: RDD[T], partitions: Seq[Int], k: Int, qids: Array[Long])
                 (score: Score[T]): DataFrame = {
    val all = merged(rdd, partitions, k, qids.length)(score)
    local(qids.indices.flatMap { q =>
      val b = all(q)
      b.sortedIdx.toSeq.map(i => Row(qids(q), b.ids(i), b.ds(i)))
    }, Batch)
  }

  /** The per-query buffers of one task, each made when its query is
    * first scored. */
  final class Bufs private[Serve] (n: Int, k: Int) {
    private val bufs = new Array[TopKBuf](n)

    def apply(q: Int): TopKBuf = {
      var b = bufs(q)
      if (b == null) { b = new TopKBuf(k); bufs(q) = b }
      b
    }

    /** (query, distances, ids) of every buffer made, cut to its size. */
    private[Serve] def shipped: Array[(Int, Array[Double], Array[Long])] =
      bufs.indices.iterator.filter(bufs(_) != null).map { q =>
        val b = bufs(q)
        (q, b.ds.take(b.size), b.ids.take(b.size))
      }.toArray
  }

  /** The job and the driver merge behind [[topK]] and [[topKMany]]: one
    * merged buffer per query; no job when there is nothing to keep. */
  private def merged[T](rdd: RDD[T], partitions: Seq[Int], k: Int, n: Int)
                       (score: Score[T]): Array[TopKBuf] = {
    require(k >= 0, s"k=$k must be >= 0")
    if (k == 0 || n == 0) return Array.fill(n)(new TopKBuf(k))
    val parts = rdd.sparkContext.runJob(rdd, (it: Iterator[T]) => {
      val bufs = new Bufs(n, k)
      score(it, bufs)
      bufs.shipped
    }, partitions)
    val all = Array.fill(n)(new TopKBuf(k))
    for (part <- parts; (q, ds, ids) <- part; i <- ds.indices) all(q).insert(ds(i), ids(i))
    all
  }

  /** The empty batch result, for k = 0. */
  def noRows: DataFrame = local(Seq.empty, Batch)

  private def local(rows: Seq[Row], schema: StructType): DataFrame =
    SparkSession.active.createDataFrame(rows.asJava, schema)

  /** A serving batch collected under the [[Batches]] budget as (qid,
    * vector) with `vec` the vector column, refusing a null vector by
    * tier and qid (it would otherwise fail deep inside a task). */
  def batch(queries: DataFrame, qIdCol: String, vec: Column,
            tier: String): Array[(Long, Array[Float])] = {
    import queries.sparkSession.implicits._
    val rows = Batches.bounded(
      queries.select(col(qIdCol).cast("long"), vec).as[(Long, Array[Float])],
      s"$tier.searchMany query")
    rows.foreach { case (qid, v) => requireVector(tier, qid, v) }
    rows
  }

  /** The null-query guard of the batch searches: on the driver for a
    * collected batch, inside the probe tasks of a cold plan. */
  def requireVector(tier: String, qid: Long, v: Array[Float]): Unit =
    require(v != null, s"$tier query $qid has a null vector")

  /** Whether no qid repeats. A batch with repeats takes the cold plan,
    * which merges every row of one qid into one cut. */
  def distinct(qids: Array[Long]): Boolean = qids.distinct.length == qids.length

  /** Σ (vᵢ − qᵢ)² over the shorter length, each element widened to
    * double and folded from 0.0 left to right: bit-identical to
    * [[graft.functions.SqDistExpr]], the cold plans' distance. */
  def sqDist(v: Array[Float], q: Array[Float]): Double = {
    val n = math.min(v.length, q.length)
    var s = 0.0; var i = 0
    while (i < n) { val d = v(i).toDouble - q(i).toDouble; s += d * d; i += 1 }
    s
  }

  /** A model's serving copy, absent until [[warm]] builds it with
    * `make`, persists it MEMORY_ONLY (deserialized objects) and fills it
    * with one count; [[cool]] releases and forgets it. While absent
    * nothing is built or run, so cooling a never-warmed model costs no
    * job. Held per model instance: a model that add, remove or merge
    * returns starts without one. */
  final class Resident[T](make: () => RDD[T]) {
    @volatile private var rdd: RDD[T] = _

    def get: Option[RDD[T]] = Option(rdd)

    def warm(): Unit = synchronized {
      if (rdd == null) rdd = make().persist(StorageLevel.MEMORY_ONLY)
      rdd.count()
    }

    def cool(): Unit = synchronized {
      if (rdd != null) { rdd.unpersist(blocking = true); rdd = null }
    }
  }
}
