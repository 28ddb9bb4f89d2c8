package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/** Bounded max-heap of the k smallest (distance, id) pairs — primitive
  * arrays, no boxing, heap-ordered on (distance, id) so ties break by
  * id exactly like [[graft.operators.Exhaustive.topKDedup]]. Distances
  * compare as Spark SQL sorts doubles (`SQLOrderingUtil.compareDoubles`:
  * NaN after every number, NaN equal to NaN, −0.0 equal to 0.0), so
  * every cut through this buffer keeps the rows `orderBy(distance, id)`
  * keeps ([[TopK.one]]). The aggregation buffer of [[TopKAggExpr]] and
  * the per-task buffer of [[graft.index.Serve.topK]]. */
final class TopKBuf(val k: Int) {
  val ds = new Array[Double](k)
  val ids = new Array[Long](k)
  var size = 0

  // (d1,i1) strictly worse (further) than (d2,i2)
  @inline private def worse(d1: Double, i1: Long, d2: Double, i2: Long): Boolean = {
    val c = SQLOrderingUtil.compareDoubles(d1, d2)
    c > 0 || (c == 0 && i1 > i2)
  }

  @inline private def swap(a: Int, b: Int): Unit = {
    val td = ds(a); ds(a) = ds(b); ds(b) = td
    val ti = ids(a); ids(a) = ids(b); ids(b) = ti
  }

  def insert(d: Double, id: Long): Unit = {
    if (size < k) {
      var i = size
      ds(i) = d; ids(i) = id; size += 1
      while (i > 0) {
        val p = (i - 1) >> 1
        if (worse(ds(i), ids(i), ds(p), ids(p))) { swap(i, p); i = p }
        else return
      }
    } else if (worse(ds(0), ids(0), d, id)) {
      ds(0) = d; ids(0) = id
      var i = 0
      while (true) {
        val l = 2 * i + 1; val r = l + 1
        var m = i
        if (l < size && worse(ds(l), ids(l), ds(m), ids(m))) m = l
        if (r < size && worse(ds(r), ids(r), ds(m), ids(m))) m = r
        if (m == i) return
        swap(i, m); i = m
      }
    }
  }

  def mergeFrom(o: TopKBuf): Unit = {
    var i = 0
    while (i < o.size) { insert(o.ds(i), o.ids(i)); i += 1 }
  }

  /** Indices 0..size-1 sorted ascending by (distance, id). */
  def sortedIdx: Array[Int] = {
    val idx = Array.range(0, size)
    // size ≤ k (serving constant): insertion sort, no allocation
    var i = 1
    while (i < size) {
      val v = idx(i); var j = i - 1
      while (j >= 0 && worse(ds(idx(j)), ids(idx(j)), ds(v), ids(v))) {
        idx(j + 1) = idx(j); j -= 1
      }
      idx(j + 1) = v
      i += 1
    }
    idx
  }
}

/** Per-group bounded top-k as a Catalyst imperative aggregate:
  * `groupBy(qid).agg(topK(distance, id, k))` → ARRAY<STRUCT<distance,
  * id>> ascending by (distance, id). The point is the EXECUTION SHAPE:
  * partial aggregation keeps one O(k) primitive heap per group map-side
  * (inside the join stage — no typed-Dataset boundary, no per-row
  * tuple allocation), the exchange carries serialized partial heaps
  * (≤ tasks × groups × k pairs), and the final merge folds heaps. This
  * replaced a mapPartitions-heap + groupByKey pipeline that paid one
  * deserialize + two allocations per CANDIDATE row — measured 26.6 →
  * 12.4 s on a 380M-candidate self-kNN join (KnnProbe, 200k × 128f).
  *
  * Contract: candidate ids are unique within a group (true for
  * disjoint-cell probes and single corpus scans); equal-distance ties
  * break by id, matching Exhaustive.topKDedup. Sessions running wide
  * top-k aggregations should raise
  * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` (default
  * 128 in-memory groups per task!) above their expected per-task group
  * count — the buffers are O(k) primitives, so millions of groups fit
  * comfortably; the suite's entry points set 4M. */
case class TopKAggExpr(dist: Expression, id: Expression, k: Int,
                       mutableAggBufferOffset: Int = 0,
                       inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuf] {

  require(k >= 1 && k <= (1 << 20), s"k=$k out of range [1, 1048576]")

  override def children: Seq[Expression] = Seq(dist, id)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("distance", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false))), containsNull = false)

  override def createAggregationBuffer(): TopKBuf = new TopKBuf(k)

  override def update(b: TopKBuf, row: InternalRow): TopKBuf = {
    val d = dist.eval(row)
    val i = id.eval(row)
    if (d != null && i != null)
      b.insert(d.asInstanceOf[Double], i.asInstanceOf[Long])
    b
  }

  override def merge(b: TopKBuf, o: TopKBuf): TopKBuf = { b.mergeFrom(o); b }

  override def eval(b: TopKBuf): Any =
    new GenericArrayData(b.sortedIdx.map(i =>
      InternalRow(b.ds(i), b.ids(i)): Any))

  override def serialize(b: TopKBuf): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + 16 * b.size)
    bb.putInt(b.k).putInt(b.size)
    var i = 0
    while (i < b.size) { bb.putDouble(b.ds(i)).putLong(b.ids(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val b = new TopKBuf(bb.getInt())
    val n = bb.getInt()
    var i = 0
    while (i < n) { b.insert(bb.getDouble(), bb.getLong()); i += 1 }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKAggExpr =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKAggExpr =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(dist = c(0), id = c(1))
}

object TopK {
  /** `ARRAY<STRUCT<distance, id>>` of the group's k nearest, ascending
    * by (distance, id). See [[TopKAggExpr]] for the execution-shape
    * rationale and the fallback-threshold session note. */
  def topK(dist: Column, id: Column, k: Int): Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.column(TopKAggExpr(
      GraftShims.expression(dist.cast("double")),
      GraftShims.expression(id.cast("long")), k).toAggregateExpression())
  }

  /** The per-query cut of every batch kNN path: (qid, id, distance)
    * candidates → the k nearest per qid, as (qid, id, distance) rows.
    * Partial-aggregating: each task ships at most k rows per query it
    * touched, so the only shuffle is k-bounded, never candidate-count
    * sized (a 10M-row probe measured ~580 MB through the old
    * whole-candidate groupByKey drain). Candidate ids must be unique per
    * query — true for disjoint probed cells and single corpus scans —
    * and ties break by id exactly like `Exhaustive.topKDedup`. */
  def perQuery(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col, explode}
    scored
      .groupBy(col("qid"))
      .agg(topK(col("distance"), col("id"), k).as("nn"))
      .select(col("qid"), explode(col("nn")).as("nn"))
      .select(col("qid"), col("nn.id").as("id"),
        col("nn.distance").as("distance"))
  }

  /** The single-query cut of [[graft.operators.Exhaustive.topK]] and of
    * SQ8's and BQ's `search`: (id, distance) candidates → the k nearest,
    * ascending by (distance, id). Plans as
    * `TakeOrderedAndProject` — a bounded heap per partition, merged on
    * the driver — so the search is one job with no exchange at any
    * scale. `idCol` names the id column when it is not `id`. */
  def one(scored: DataFrame, k: Int, idCol: String = "id"): DataFrame = {
    import org.apache.spark.sql.functions.col
    scored.orderBy(col("distance"), col(idCol)).limit(k)
  }
}
