package graft.index

import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** When a small input finishes on the driver instead of running a
  * distributed loop: the one size rule shared by `Dedup.components`
  * (the pair graph), `VecFile.read` (the file), and `IVFFlat.build`,
  * `IVFFlat.Model.knnJoin`'s routing and `LSHForest.build` (a frame's
  * rows). An input fits when its size in bytes is within both Spark's
  * broadcast budget (`spark.sql.autoBroadcastJoinThreshold`, the size
  * Spark itself is willing to hold whole on the driver and ship to every
  * task; `-1` turns broadcasting off and with it every driver finish)
  * and the caller's fixed cap, which bounds driver memory whatever the
  * budget is raised to. The pair graph counts 16 bytes per pair and the
  * file its length; a frame is sized by [[bytesOf]] and its rows taken
  * by [[collect]], the one collect of the three frame callers. */
object DriverGate {

  /** The session's broadcast budget in bytes; negative means none. */
  def budget(spark: SparkSession): Long =
    spark.sessionState.conf.autoBroadcastJoinThreshold

  /** Whether an input of `bytes` finishes on the driver under a budget
    * of `budget` bytes and a fixed cap of `cap` bytes. */
  def fits(bytes: Long, budget: Long, cap: Long): Boolean =
    budget >= 0 && bytes >= 0 && bytes <= math.min(budget, cap)

  /** The size of `df` in bytes, when it is known without running a job:
    *  - the optimized plan's size estimate (what Spark's broadcast
    *    planning reads) when it is below `spark.sql.defaultSizeInBytes`,
    *    the value Spark gives a leaf it cannot size;
    *  - otherwise, when every leaf of that plan is a `LogicalRDD` whose
    *    RDD holds all its partitions in storage, the bytes they hold in
    *    memory and on disk (`getRDDStorageInfo`), or, for a reliable
    *    checkpoint, its files' length. An eager `localCheckpoint` or
    *    `checkpoint` of a frame built from an RDD is such a frame, as is
    *    a persisted one that has been filled.
    * Anything else (an unfilled or lazy checkpoint, an RDD that is not
    * stored, a leaf of another kind) is unknown: None. */
  def bytesOf(df: DataFrame): Option[Long] = {
    val plan = df.queryExecution.optimizedPlan
    val est = plan.stats.sizeInBytes
    if (est < df.sparkSession.sessionState.conf.defaultSizeInBytes) return Some(est.toLong)
    val leaves = plan.collectLeaves()
    val rdds = leaves.collect { case r: LogicalRDD => r.rdd }
    if (rdds.isEmpty || rdds.length != leaves.length) return None
    val sc = df.sparkSession.sparkContext
    val ids = rdds.map(_.id).toSet
    val stored = sc.getRDDStorageInfo.filter(i => ids(i.id)).map(i => i.id -> i).toMap
    val sizes = rdds.map { rdd =>
      stored.get(rdd.id).filter(_.numCachedPartitions == rdd.partitions.length)
        .map(i => i.memSize + i.diskSize)
        .orElse(rdd.getCheckpointFile.filter(_ => rdd.isCheckpointed).map { dir =>
          val path = new org.apache.hadoop.fs.Path(dir)
          path.getFileSystem(sc.hadoopConfiguration).getContentSummary(path).getLength
        })
    }
    if (sizes.forall(_.isDefined)) Some(sizes.map(_.get).sum) else None
  }

  /** Largest frame [[collect]] takes: the job collects one more row than
    * this at most, and a driver build costs rows × dim or more per pass
    * on one core. */
  private[graft] val maxRows: Int = 65536

  /** Cap on a frame's [[bytesOf]] for [[collect]], whatever the
    * broadcast budget (the float payload of [[maxRows]] 128-dim rows). */
  private[graft] val maxBytes: Long = 32L << 20

  /** The (id, vector) rows of a two-column (long, array<float>) frame,
    * nulls kept, in partition order, when its [[bytesOf]] passes the gate
    * (cap [[maxBytes]]) and it holds at most [[maxRows]] rows: one job,
    * each task returning at most `maxRows + 1` rows and the driver
    * keeping none once the total passes the cap. None otherwise, having
    * run no job when the size fails the gate. */
  def collect(rows: DataFrame): Option[Array[(java.lang.Long, Array[Float])]] = {
    val spark = rows.sparkSession
    if (!bytesOf(rows).exists(fits(_, budget(spark), maxBytes))) return None
    val cap = maxRows
    // internal rows, copied out field by field: no conversion to Row
    val rdd = rows.queryExecution.toRdd.map { r =>
      (if (r.isNullAt(0)) null else Long.box(r.getLong(0)),
        if (r.isNullAt(1)) null else r.getArray(1).toFloatArray())
    }
    val parts = new Array[Array[(java.lang.Long, Array[Float])]](rdd.partitions.length)
    var n = 0L
    GraftShims.inSession(spark) {
      spark.sparkContext.runJob(rdd,
        (it: Iterator[(java.lang.Long, Array[Float])]) => it.take(cap + 1).toArray,
        (i: Int, part: Array[(java.lang.Long, Array[Float])]) => {
          n += part.length
          if (n <= cap) parts(i) = part
        })
    }
    if (n > cap) None else Some(parts.flatten)
  }

  /** The failure message for the lowest id (in `ids` order, ascending)
    * whose vector is null, differs in dimension from the first row's,
    * or holds a NaN or infinity; `what` names the build, and `empty` is
    * the message for no rows at all. The driver paths of `IVFFlat.build`
    * and `LSHForest.build` refuse their input with it, and their
    * distributed paths with [[invalidRowOf]]. */
  private[graft] def invalidRow(what: String, empty: String, ids: Array[Long],
                                vecs: Array[Array[Float]]): Option[String] =
    if (ids.isEmpty) Some(empty)
    else {
      val dim = Option(vecs(0)).map(_.length).getOrElse(-1)
      ids.indices.iterator.map { i =>
        val v = vecs(i)
        if (v == null) Some(s"$what row ${ids(i)} has a null vector")
        else if (v.length != dim)
          Some(s"$what row ${ids(i)} has dim ${v.length} != dim $dim of row ${ids(0)}")
        else if (v.exists(x => x.isNaN || x.isInfinite))
          Some(s"$what row ${ids(i)} has a NaN or infinite value")
        else None
      }.collectFirst { case Some(m) => m }
    }

  /** [[invalidRow]] over a distributed (id, vector) frame, in two small
    * jobs: the lowest id's row, then the lowest id among the rows it
    * would refuse. */
  private[graft] def invalidRowOf(what: String, empty: String, rows: DataFrame): Option[String] =
    rows.orderBy(col("id"), col("vector")).limit(1).collect().headOption match {
      case None => Some(empty)
      case Some(first) =>
        val dim = if (first.isNullAt(1)) -1 else first.getSeq[Float](1).length
        val bad = rows.filter(col("vector").isNull ||
            size(col("vector")) =!= lit(dim) ||
            exists(col("vector"), x => isnan(x) || x.isin(Float.PositiveInfinity, Float.NegativeInfinity)))
          .orderBy(col("id"), col("vector")).limit(1).collect()
        bad.headOption.flatMap { r =>
          invalidRow(what, empty, Array(first.getLong(0), r.getLong(0)),
            Array(Option(first.getSeq[Float](1)).map(_.toArray).orNull,
              Option(r.getSeq[Float](1)).map(_.toArray).orNull))
        }
    }
}
