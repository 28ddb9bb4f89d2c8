package graft.index

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The probed-cell core shared by the IVF family ([[IVFFlat]], [[SQ8]],
  * [[IVFPQ]], [[BQ]]): how a query batch routes to coarse cells, how a
  * small batch prunes the cell scan, and how the coarse grid persists.
  * Every tier keeps only what differs — the per-cell query frame it
  * scores in and the distance kernel over its cell payload. */
private[graft] object Cells {

  /** Probe frame: one row per (query, probed cell), cells in
    * [[IVFFlat.probeOrder]] (adaptive widening to `k`, at least
    * `nprobe`; range searches pass k = 1 so they probe exactly the
    * `nprobe` nearest cells). Centroids and sizes broadcast; the probe
    * runs narrow, once per partition's broadcast read.
    *
    * `frame(centroids, qid, qvec)` is the tier's query transform: it
    * returns, per probed cell, the row the tier's kernel scores against
    * — by default columns (qid, qvec, cluster), and the tier may add
    * columns through `cols`. Per-query work (widening, rotation) goes
    * in the outer function so it runs once per query, not per cell.
    *
    * A query whose dimension differs from the index's fails the task:
    * the distance kernels iterate the shorter prefix, so a mismatched
    * query would otherwise score a plausible, wrong partial distance. A
    * null query vector fails it too, naming the tier and the qid. */
  def probes[R <: Product : TypeTag](tier: String, queries: DataFrame,
                                     qIdCol: String, qVecCol: String,
                                     centroids: Array[Array[Float]],
                                     sizes: Array[Long], k: Int, nprobe: Int,
                                     cols: Seq[String] = Seq("qid", "qvec", "cluster"))(
      frame: (Array[Array[Float]], Long, Array[Float]) => Int => R): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast((centroids, sizes))
    queries
      .select(col(qIdCol).cast("long").as("qid"),
              col(qVecCol).cast("array<float>").as("qvec"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val (cents, sz) = bc.value
        it.flatMap { case (qid, qvec) =>
          Serve.requireVector(tier, qid, qvec)
          requireDim(tier, qvec, cents)
          val row = frame(cents, qid, qvec)
          IVFFlat.probeOrder(cents, sz, qvec, k, nprobe).map(row)
        }
      }
      .toDF(cols: _*)
  }

  /** The query-dimension guard: [[probes]] runs it per query on the
    * executors, the single-query searches on the driver. */
  def requireDim(tier: String, q: Array[Float],
                 centroids: Array[Array[Float]]): Unit =
    require(q.length == centroids(0).length,
      s"$tier query dim ${q.length} != index dim ${centroids(0).length}")

  /** Rows whose `cluster` is one of `cells` — the one cell-membership
    * predicate of the IVF family. `array_contains` over a typed array
    * literal: whole-stage codegen binds the array as one reference
    * object, so the generated class is the same whatever cells are
    * probed and a new probe set compiles nothing (`isin` inlines each
    * int literal into the generated source, one fresh class per probe
    * set). Parquet partition pruning on the partitionBy(cluster) save
    * layout still applies: the predicate lands under `PartitionFilters`. */
  def inCells(cells: Seq[Int]): Column =
    array_contains(typedlit(cells), col("cluster"))

  /** Candidate rows of a serving batch: `table` joined on `cluster` to
    * the broadcast probe frame. The probe frame is broadcast-sized by
    * contract, and it feeds both the cell collect and the join, so it is
    * computed once (checkpointed). When the batch probes fewer than all
    * `numCells` cells, the cell set rides the table scan as an
    * [[inCells]] filter — partition pruning on the partitionBy(cluster)
    * save layout — so a 10-query batch against a huge saved corpus
    * reads the probed fraction, not every cell. Pure pruning: the
    * equi-join enforces the same equality, so results are identical;
    * batches that touch every cell skip the filter. */
  def pruned(table: DataFrame, probes: DataFrame, numCells: Int): DataFrame = {
    val frame = probes.localCheckpoint(true)
    val cells = frame.select(col("cluster")).distinct()
      .collect().map(_.getInt(0))
    val scanned =
      if (cells.length < numCells) table.filter(inCells(cells.toSeq))
      else table
    scanned.join(broadcast(frame), Seq("cluster"))
  }

  /** Per-cell row counts of a (…, cluster) table — one small aggregate,
    * `n` cells. */
  def sizes(table: DataFrame, n: Int): Array[Long] = {
    val s = new Array[Long](n)
    table.groupBy("cluster").count().collect()
      .foreach(r => s(r.getInt(0)) = r.getLong(1))
    s
  }

  /** Sizes saved in the params sidecar (no corpus recount at load), or
    * the recount for directories saved before the field existed. */
  def sizesOr(json: String, n: Int, table: DataFrame): Array[Long] =
    ParamsIO.longs(json, "sizes").getOrElse(sizes(table, n))

  /** Write the coarse centroids as the one-file `centroids` sidecar of
    * an index directory: (cluster, vector) rows. */
  def saveCentroids(spark: SparkSession, dir: String,
                    centroids: Array[Array[Float]]): Unit = {
    import spark.implicits._
    centroids.zipWithIndex.map { case (v, i) => (i, v) }.toSeq
      .toDF("cluster", "vector")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
  }

  /** [[saveCentroids]]'s reader: centroids in cluster order. */
  def loadCentroids(spark: SparkSession, dir: String): Array[Array[Float]] =
    spark.read.parquet(s"$dir/centroids")
      .orderBy("cluster").collect()
      .map(_.getAs[scala.collection.Seq[Float]]("vector").toArray)
}
