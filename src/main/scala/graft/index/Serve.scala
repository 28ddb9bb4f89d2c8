package graft.index

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.functions.TopKBuf

/** Warm single-query serving without per-call Catalyst planning. A
  * warmed tier keeps its rows resident as a plain RDD ([[Resident]]),
  * and [[topK]] answers one query with one `runJob` over it: no Dataset
  * is built, optimized or code-generated per call, and nothing
  * shuffles. Paying the query-independent work once per session, at
  * `warm()`, is the incremental top-k session idea (EDBT 2020,
  * PAPERS.md); serving from worker-resident decoded state with a direct
  * partition job is the in-memory design of the ICDE 2019 trajectory
  * search (PAPERS.md), the Spark face of the reference's in-memory
  * inverted lists (`vers/src/indexes/ivfflat.rs:122-130`). */
object Serve {

  /** One job over `partitions` of `rdd`: each task folds its records
    * into one [[TopKBuf]] of `k` with `score` and ships the ≤ k
    * (distance, id) pairs it kept; the driver merges them in the
    * (distance, id) order of [[graft.functions.TopK.one]] and returns
    * the ≤ k nearest, ascending, as a local (id, distance) frame with
    * `schema` (the cold plan's, so callers cannot tell the paths
    * apart). Collecting the result runs no job. `score` runs on the
    * executors: it must capture locals only, never a model. */
  def topK[T](rdd: RDD[T], partitions: Seq[Int], k: Int, schema: StructType)
             (score: (Iterator[T], TopKBuf) => Unit): DataFrame = {
    require(k >= 0, s"k=$k must be >= 0")
    val spark = SparkSession.active
    if (k == 0) return spark.createDataFrame(java.util.List.of[Row](), schema)
    val parts = rdd.sparkContext.runJob(rdd, (it: Iterator[T]) => {
      val b = new TopKBuf(k)
      score(it, b)
      (b.ds.take(b.size), b.ids.take(b.size))
    }, partitions)
    val all = new TopKBuf(k)
    for ((ds, ids) <- parts; i <- ds.indices) all.insert(ds(i), ids(i))
    val rows = all.sortedIdx.toSeq.map(i => Row(all.ids(i), all.ds(i)))
    spark.createDataFrame(rows.asJava, schema)
  }

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
