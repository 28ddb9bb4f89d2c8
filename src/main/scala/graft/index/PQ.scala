package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Rotate.mix64

/** Product quantization — the corpus-scale memory answer the reference
  * (all-f32-in-RAM, vers/src/indexes/base.rs:15-26) has no room for: at
  * 100 TB the vectors themselves are the bottleneck, and PQ stores each
  * one as `m` one-byte codes (32× smaller at 128f/m=16) while search
  * runs over the codes alone via asymmetric distance (ADC).
  *
  * Spark-first shapes, mirroring the repo's other indexes:
  *  - **training** is Lloyd's over all `m` subspaces in ONE job per
  *    iteration: each partition folds its rows into per-(subspace,
  *    centroid) {count, sum} partials against the broadcast codebooks —
  *    the corpus never shuffles, the driver merges O(m × k) cells
  *    (same partial-aggregate pattern as LSHForest.levelStats).
  *  - **encoding** is one narrow map → (id, m-byte BINARY code).
  *  - **ADC search** broadcasts the query batch as a probe frame and
  *    scores each m-byte code in-register inside whole-stage codegen
  *    ([[graft.functions.PqAdcExpr]] — no per-row Dataset decode, no
  *    LUT state); the partial-aggregating TopKAggExpr cut shuffles
  *    only ≤ k (qid, id, distance) triples per partition — the
  *    knnJoin shape.
  *  - optional **exact re-rank**: ADC top factor×k, then one broadcast
  *    join back to the full-precision vectors for the final top-k.
  *
  * Determinism: seeded min-hash init, ascending-index tie-breaks, fixed
  * fold order (double, from 0.0, constant operand order) — the same
  * precision contract as VectorOps, so pinned-codebook encode + ADC are
  * exactly reproducible in the DuckDB oracle (pq_assign_fixed /
  * pq_adc_fixed).
  */
object PQ {

  /** `k` ≤ 256 so a code fits one byte. Empty-cell rule: a centroid that
    * attracts no rows keeps its previous position (deviation from
    * ivfflat.rs:47's empty→zero, documented: a zeroed sub-centroid would
    * poison the LUT for every vector still coded to it). */
  case class Params(m: Int = 8, k: Int = 256, iterations: Int = 10,
                    seed: Long = 42L) {
    require(k <= 256, "PQ codes are one byte: k <= 256")
  }

  /** codebooks(s)(j) = centroid j of subspace s (dsub floats).
    * `rotated` marks codebooks trained (or pinned) in the FWHT-rotated
    * float frame ([[rotProj]]): corpus rows rotate at encode and
    * queries at search — rotation balances per-subspace variance, the
    * OPQ-lite win product quantizers need on anisotropic embeddings.
    * `dim` is then the PADDED power-of-two length. */
  case class Model(params: Params, dim: Int,
                   codebooks: Array[Array[Array[Float]]],
                   codes: DataFrame /* id: long, code: binary(m) */,
                   addsSinceCompact: Int = 0,
                   rotated: Boolean = false) {
    def dsub: Int = dim / params.m

    /** ADC batch top-k over the codes alone (no full vectors touched).
      *
      * The scan is the [[graft.functions.PqAdcExpr]] whole-stage-codegen
      * kernel (the IVFPQ.searchMany serving shape, minus the coarse
      * grid): the query chunk broadcasts as a (qid, qvec) frame into a
      * broadcast join against the code scan — flat PQ has no cluster
      * key, so every code meets every chunk query (the range_search
      * broadcast-nested-loop idiom; the SMALL side is the serving
      * batch) — and the kernel scores each m-byte code in-register,
      * bit-identical to the former per-partition-LUT path (same
      * 0.0-seeded double folds in the same subspace/dim order, only the
      * table indirection removed). The partial-aggregating TopKAggExpr
      * cut then moves ≤ k triples per (partition, query) — the
      * mapPartitions path's per-row Dataset decode (measured ~6× at
      * IVFPQ token-batch volumes, r13) is gone.
      *
      * Memory envelope: the query batch is collected and broadcast —
      * O(nQueries × dim × 4 B) on driver + executors (the HNSW.searchMany
      * contract: queries are the SMALL side), enforced by the Batches
      * budget. `qChunk` still partitions the batch: each chunk rides
      * its own qChunk × dim × 4 B broadcast and one scan of the
      * compressed codes — linear extra scans in exchange for a bounded
      * per-chunk broadcast; chunks partition the queries, so per-chunk
      * top-k results are final and simply union. */
    def searchMany(queries: DataFrame, qIdCol: String, qVecCol: String,
                   k: Int, qChunk: Int = 1024): DataFrame = {
      val spark = queries.sparkSession
      import spark.implicits._
      val qRows = Batches.bounded(queries
        .select(col(qIdCol).cast("long"), vecProj(qVecCol, rotated))
        .as[(Long, Array[Float])], "PQ.searchMany query")
      if (qRows.isEmpty)
        return spark.emptyDataset[(Long, Long, Double)].toDF("qid", "id", "distance")
      // Fail-loudly dim guard (the IVFPQ/SQ8.searchMany convention): the
      // codegen ADC kernel reads qvec[off+i] UNchecked on UnsafeArrayData,
      // so a wrong-dim query (unpadded / unaugmented) would silently
      // score garbage instead of crashing like the old JVM-array path.
      qRows.foreach { case (qid, qv) =>
        require(qv.length == dim,
          s"PQ.searchMany: query $qid dim ${qv.length} != index dim $dim " +
            "(after any rotation padding) — pad/augment the query to the " +
            "frame the codes were trained in")
      }
      // per-chunk broadcast footprint: qChunk caps the rows; assert the
      // PRODUCT (rows × dim floats) against the scaled budget so a
      // wide-dim corpus or an inflated qChunk can't ride the row gate
      // into a multi-GB executor broadcast (no job — counts are known)
      Batches.requireChunkFloats(queries, "PQ.searchMany per-chunk broadcast",
        math.min(math.max(1, qChunk), qRows.length).toLong, dim.toLong)
      val chunkResults = qRows.grouped(math.max(1, qChunk)).map { qChunkRows =>
        val qDf = spark.createDataset(qChunkRows.toSeq).toDF("qid", "qvec")
        graft.functions.TopK.perQuery(
          codes.select(col("id"), col("code"))
            .crossJoin(broadcast(qDf))
            .select(col("qid"), col("id"),
              graft.functions.PqMath.adcDist(col("code"), col("qvec"),
                codebooks).as("distance")),
          k)
      }.toSeq
      chunkResults.reduce(_.unionByName(_))
    }

    /** Incremental add — the Index::add analogue (base.rs:28 semantics)
      * for PQ: encode the batch against the FROZEN codebooks (the exact
      * counterpart of IVFFlat.add's frozen-centroid assign) and union
      * the codes. Codebooks never retrain on add; periodic re-train is
      * the maintenance job, as re-clustering is for IVF. Repeated adds
      * compact their union lineage — see [[Lineage]]. */
    def add(rows: DataFrame, idCol: String, vecCol: String): Model = {
      val (df, n) = Lineage.compact(
        codes.unionByName(encodeDf(rows, idCol, vecCol, codebooks, rotated)),
        addsSinceCompact)
      copy(codes = df, addsSinceCompact = n)
    }

    /** Takedown twin of [[IVFFlat.Model.remove]]: anti-join the codes
      * on id (codes never shuffle; the ids frame broadcasts). */
    def remove(ids: DataFrame, idCol: String): Model = {
      val (df, n) = Lineage.without(codes, ids, idCol, addsSinceCompact)
      copy(codes = df, addsSinceCompact = n)
    }

    /** Merge another PQ index into this one (cross-job compaction —
      * see [[MergeOps]]). Codes decode only against their codebooks, so
      * both models must share them bitwise (and the rotation frame /
      * padded dim). The union is free — a flat PQ code row carries no
      * coarse state at all. Disjoint-id contract. */
    def merge(other: Model): Model = {
      require(rotated == other.rotated && dim == other.dim,
        "PQ.merge: coding frames differ (rotated/dim) — codes are not comparable")
      require(MergeOps.sameBooks(codebooks, other.codebooks),
        "PQ.merge: codebooks differ — codes cannot re-encode; rebuild instead")
      val (df, n) = Lineage.compact(
        codes.unionByName(other.codes), addsSinceCompact)
      copy(codes = df, addsSinceCompact = n)
    }

    /** ADC shortlist (factor×k) + exact re-rank against the
      * full-precision vectors: the standard PQ serving shape — the
      * corpus is scanned once for the shortlist join (broadcast probe
      * side), never for the ADC pass. */
    def searchManyRefined(queries: DataFrame, qIdCol: String, qVecCol: String,
                          k: Int, factor: Int,
                          corpus: DataFrame, cIdCol: String, cVecCol: String)
    : DataFrame =
      graft.operators.Exhaustive.rerank(
        searchMany(queries, qIdCol, qVecCol, k * factor),
        queries, qIdCol, qVecCol, corpus, cIdCol, cVecCol, k)

    def save(dir: String): Unit = {
      val spark = codes.sparkSession
      import spark.implicits._
      codes.write.mode("overwrite").parquet(s"$dir/codes")
      codebooks.zipWithIndex.flatMap { case (cb, s) =>
        cb.zipWithIndex.map { case (cv, j) => (s, j, cv) }
      }.toSeq.toDF("s", "j", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
      ParamsIO.write(spark, dir,
        s"""{"m":${params.m},"k":${params.k},"iterations":${params.iterations},"seed":${params.seed},"dim":$dim,"rotated":${if (rotated) 1 else 0}}""")
    }

    /** Pre-pay serving residency over the code table
      * ([[Residency.warm]] — see [[IVFFlat.Model.warm]]). */
    def warm(): Model = { Residency.warm(codes); this }

    /** Release the code table's storage ([[Residency.cool]]). */
    def cool(): Unit = Residency.cool(codes)
  }

  def load(spark: SparkSession, dir: String): Model = {
    val json = ParamsIO.read(spark, dir)
    def num(key: String): Long = ParamsIO.num(json, key)
    val params = Params(num("m").toInt, num("k").toInt,
      num("iterations").toInt, num("seed"))
    val rows = spark.read.parquet(s"$dir/codebooks").collect()
    val byS = rows.groupBy(_.getInt(0))
    val cbs = (0 until params.m).map { s =>
      byS(s).sortBy(_.getInt(1))
        .map(_.getAs[scala.collection.Seq[Float]](2).toArray)
    }.toArray
    Model(params, num("dim").toInt, cbs, spark.read.parquet(s"$dir/codes"),
      rotated = ParamsIO.dbl(json, "rotated", 0.0) != 0.0)
  }

  /** The (id, vector ARRAY<FLOAT>) projection all PQ stages share; with
    * `rotated`, vector = float32(FWHT-rotate(v)) — the rotated corpus
    * is "just another float corpus" to the codebooks, so training,
    * encode and the ADC LUT are frame-agnostic. The float rounding is
    * the pinned coordinate contract (oracle: CAST(x AS REAL)). */
  private def vecProj(vecCol: String, rotated: Boolean): org.apache.spark.sql.Column =
    if (rotated)
      graft.functions.Rotate.rotate(col(vecCol).cast("array<float>"))
        .cast("array<float>")
    else col(vecCol).cast("array<float>")

  /** sqdist of v[off, off+dsub) to each centroid; argmin, ties → lowest
    * index (the oracle's ORDER BY distance, cid tie-break). */
  @inline private[index] def nearestSub(cb: Array[Array[Float]], v: Array[Float],
                                        off: Int): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var j = 0
    while (j < cb.length) {
      val c = cb(j)
      var d = 0.0
      var i = 0
      while (i < c.length) {
        val t = c(i).toDouble - v(off + i).toDouble
        d += t * t
        i += 1
      }
      if (d < bestD) { bestD = d; best = j }
      j += 1
    }
    best
  }

  /** Encode every row against frozen codebooks: one narrow map, m bytes
    * per vector out. */
  private def encodeDf(emb: DataFrame, idCol: String, vecCol: String,
                       cbs: Array[Array[Array[Float]]],
                       rotated: Boolean): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cbs)
    emb.select(col(idCol).cast("long").as("id"),
        vecProj(vecCol, rotated).as("vector"))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        val c = bc.value
        val code = new Array[Byte](c.length)
        var s = 0
        var off = 0
        while (s < c.length) {
          code(s) = nearestSub(c(s), v, off).toByte
          s += 1
          off += c(s - 1)(0).length
        }
        (id, code)
      }
      .toDF("id", "code")
  }

  /** Build a model from PINNED codebooks (no training) — the
    * oracle-checkable config (pq_assign_fixed / pq_adc_fixed), and the
    * serving path when codebooks are trained offline. */
  def withCodebooks(emb: DataFrame, idCol: String, vecCol: String,
                    cbs: Array[Array[Array[Float]]], params: Params,
                    rotated: Boolean = false): Model = {
    val dim = cbs.map(_(0).length).sum
    Model(params, dim, cbs, encodeDf(emb, idCol, vecCol, cbs, rotated),
      rotated = rotated)
  }

  /** Train codebooks with Lloyd's: seeded min-hash init (the k rows with
    * the smallest mixed id — one TakeOrdered job), then `iterations`
    * single-job passes. Partials arrive as (subspace, centroid, count,
    * sum) rows — O(partitions × m × k) — and are merged in sorted order
    * so double sums are deterministic. */
  def train(emb: DataFrame, idCol: String, vecCol: String,
            params: Params, rotated: Boolean = false): Model = {
    // persisted once: head, init TakeOrdered, every Lloyd iteration and
    // the final encode all re-read this projection — uncached that is
    // iterations+3 full source scans, which defeats the one-job-per-
    // iteration design on any corpus that doesn't fit the page cache.
    // Rotation happens HERE, so the cached frame and everything
    // downstream (init, Lloyd's, encode) live in the rotated frame.
    val rowsDf = emb.select(col(idCol).cast("long").as("id"),
        vecProj(vecCol, rotated).as("vector"))
      .persist()
    val (cbs, dim, kk) = lloydCodebooks(rowsDf, params)
    // fewer than k distinct rows shrinks the codebook: record the
    // EFFECTIVE k so save()/load() rebuild a Model whose params match
    // the codebooks actually trained
    val model = Model(params.copy(k = kk), dim, cbs,
      encodeDf(rowsDf, "id", "vector", cbs, rotated = false)
        .localCheckpoint(true), rotated = rotated)
    rowsDf.unpersist()
    model
  }

  /** The Lloyd's loop alone (no encode): returns (codebooks, dim,
    * effective k). `rowsDf` must be the (id, vector) projection, ideally
    * persisted by the caller — every iteration scans it once. Shared
    * with [[IVFPQ.train]], which encodes in its own fused pass. */
  private[index] def lloydCodebooks(rowsDf: DataFrame, params: Params)
  : (Array[Array[Array[Float]]], Int, Int) = {
    val spark = rowsDf.sparkSession
    import spark.implicits._
    val rows = rowsDf.as[(Long, Array[Float])]
    val m = params.m
    val firstRows = rows.take(1)
    require(firstRows.nonEmpty, "PQ.train: input is empty — nothing to train on")
    val first = firstRows(0)._2
    require(first.length % m == 0, s"dim ${first.length} not divisible by m=$m")
    val dsub = first.length / m
    val init = rows
      .map { case (id, v) => (mix64(id ^ params.seed), id, v) }
      .orderBy(col("_1"), col("_2")).limit(params.k)
      .collect()
    var cbs: Array[Array[Array[Float]]] = Array.tabulate(m)(s =>
      init.map(r => r._3.slice(s * dsub, (s + 1) * dsub)))
    val kk = init.length

    var iter = 0
    while (iter < params.iterations) {
      val bc = spark.sparkContext.broadcast(cbs)
      val partials = rows.mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val c = bc.value
        val cnt = Array.ofDim[Long](m, kk)
        val sum = Array.ofDim[Double](m, kk, dsub)
        it.foreach { case (_, v) =>
          var s = 0
          var off = 0
          while (s < m) {
            val ci = nearestSub(c(s), v, off)
            cnt(s)(ci) += 1
            var i = 0
            while (i < dsub) { sum(s)(ci)(i) += v(off + i); i += 1 }
            s += 1
            off += dsub
          }
        }
        (0 until m).iterator.flatMap(s => (0 until kk).iterator
          .filter(j => cnt(s)(j) > 0)
          .map(j => (s, j, pid, cnt(s)(j), sum(s)(j))))
      }.collect()
      val merged = partials.groupBy(p => (p._1, p._2)).map { case (key, ps) =>
        val sorted = ps.sortBy(_._3) // partition order → deterministic double merge
        val n = sorted.map(_._4).sum
        val acc = new Array[Double](dsub)
        sorted.foreach(p => { var i = 0; while (i < dsub) { acc(i) += p._5(i); i += 1 } })
        key -> ((n, acc))
      }
      cbs = Array.tabulate(m)(s => Array.tabulate(kk)(j =>
        merged.get((s, j)) match {
          case Some((n, acc)) => acc.map(x => (x / n).toFloat)
          case None => cbs(s)(j) // empty cell keeps its centroid
        }))
      iter += 1
    }
    (cbs, first.length, kk)
  }
}
