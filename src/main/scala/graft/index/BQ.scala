package graft.index

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{BqMath, TopK}

/** BQ — IVF over 1-bit sign codes: the far end of the compression
  * curve that [[SQ8]] starts. Same coarse quantizer and adaptive
  * probing as [[IVFFlat]] (ivfflat.rs:153-198 semantics), but the cell
  * payload is a packed sign bitmap (1 BIT per dimension): 32× fewer
  * bytes than `ARRAY<FLOAT>` in the scan, the probe join, and the page
  * cache. At 100 TB of float embeddings the sign-code table is ~3 TB —
  * small enough to keep resident across a cluster, which is why binary
  * quantization is the standard first-pass tier in production vector
  * stores: scan bits for a generous shortlist, then re-rank the
  * survivors against full-precision vectors that are fetched for the
  * shortlist ONLY (broadcast-sized, the float corpus never shuffles).
  *
  * Two first-pass scores (see [[graft.functions.BqMath]]):
  * symmetric Hamming (query quantized too — XOR+popcount, the cheapest
  * scan there is) and asymmetric signed dot (float query against the
  * code — strictly more informative, no query-side quantization loss).
  * Both are driver-oracle-gated through probe-all lanes (the sign rule
  * `x > 0` is trivially reproducible in SQL) and the shortlist+re-rank
  * lane is gated against plain float exhaustive (shortlist ⊇ corpus ⇒
  * bit-equal), exactly the [[SQ8]] gating pattern.
  *
  * Plain sign codes collapse when the corpus is clustered — every
  * member of a tight cluster shares one sign pattern, so within-cell
  * ranking is noise (measured: 0.19 recall@10 on the 100k clustered
  * smoke). [[compressResidual]] is the standard repair: sign the
  * RESIDUAL v − centroid(cell) (per-cell recentering, the same move
  * [[IVFPQ]]'s residual codebooks make), and probe with the query's
  * per-cell residual q − centroid. Signs are taken on the
  * double-widened difference so the oracle replicates them exactly.
  */
object BQ {

  /** Compressed code row layout: (id, cluster, codes BINARY). With
    * `rotated`, the sign bits are taken on the FWHT-rotated vector
    * ([[graft.functions.Rotate]]) — the repair for the clustered-sign
    * collapse on anisotropic embeddings: rotation spreads energy so
    * every bit is informative. The coarse layer stays in the ORIGINAL
    * frame (rotation is orthogonal — cell geometry unchanged). */
  private def compressRows(indexed: DataFrame, rotated: Boolean): DataFrame = {
    val v =
      if (rotated) graft.functions.Rotate.rotate(col("vector").cast("array<float>"))
      else col("vector").cast("array<float>")
    indexed.select(
      col("id"), col("cluster"), BqMath.packSignBits(v).as("codes"))
  }

  /** Residual layout: codes = sign bits of v − centroid(cluster) plus
    * the residual NORM ‖v − c‖ (one double — the scale that makes
    * scores comparable across cells; see [[Model.searchManyAsym]]).
    * Differences and the norm are taken in double; with `rotated` the
    * bits sign the ROTATED residual while rnorm stays the unrotated
    * ‖v − c‖ (equal in real arithmetic — orthogonality — and pinned on
    * the unrotated side so the oracle replays one subtraction). One
    * narrow pass, broadcast centroids. */
  private def compressResidualRows(indexed: DataFrame,
                                   centroids: Array[Array[Float]],
                                   rotated: Boolean): DataFrame = {
    val spark = indexed.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centroids)
    indexed
      .select(col("id").cast("long"), col("vector").cast("array<float>"),
        col("cluster").cast("int"))
      .as[(Long, Array[Float], Int)]
      .map { case (id, v, c) =>
        val res = residualOf(v, bc.value(c))
        var s = 0.0; var i = 0
        while (i < res.length) { s += res(i) * res(i); i += 1 }
        val coded = if (rotated) graft.functions.Rotate.rotateD(res) else res
        (id, c, BqMath.packBitsD(coded), math.sqrt(s))
      }
      .toDF("id", "cluster", "codes", "rnorm")
  }

  /** Built index: broadcastable coarse state + the packed bit table.
    * `residual` selects the recentered coding (and makes every probe
    * subtract the probed cell's centroid from the query). */
  case class Model(params: IVFFlat.Params,
                   centroids: Array[Array[Float]],
                   clusterSizes: Array[Long],
                   codes: DataFrame,
                   addsSinceCompact: Int = 0,
                   residual: Boolean = false,
                   rotated: Boolean = false) {

    /** Bit-width of one code: the FWHT pads to a power of two. */
    private def codeDim: Int =
      if (rotated) graft.functions.Rotate.padLenOf(centroids(0).length)
      else centroids(0).length

    /** Rotate a code-frame query vector iff the codes are rotated. */
    private def codeFrame(v: Array[Double]): Array[Double] =
      if (rotated) graft.functions.Rotate.rotateD(v) else v

    def probeSet(query: Array[Float], k: Int, minProbe: Int = 1): Seq[Int] =
      IVFFlat.probeOrder(centroids, clusterSizes, query, k, minProbe)

    /** Residual codes live in PER-CELL coding frames: their Hamming
      * distances are not comparable across cells (only the asymmetric
      * path carries the cross-cell scale, rnorm), so the symmetric
      * entry points refuse residual models rather than return a
      * plausible-looking global ranking of incomparable scores. */
    private def requireSymmetricComparable(): Unit =
      require(!residual,
        "BQ symmetric search on a residual model compares Hamming scores " +
          "across per-cell coding frames — use searchManyAsym (rnorm-scaled, " +
          "cross-cell-comparable) or compress without residual")

    /** Single-query symmetric search: partition-pruned scan of probed
      * cells → XOR+popcount vs the sign-packed query literal →
      * TakeOrderedAndProject. Refuses residual models (see
      * [[requireSymmetricComparable]]). */
    def search(query: Array[Float], k: Int, minProbe: Int = 1): DataFrame = {
      requireSymmetricComparable()
      Cells.requireDim("BQ", query, centroids)
      val probed = probeSet(query, k, minProbe)
      val qBits =
        if (rotated) BqMath.packBitsD(codeFrame(query.map(_.toDouble)))
        else BqMath.packBits(query)
      TopK.one(
        codes.filter(Cells.inCells(probed))
          .select(col("id"),
            BqMath.hammingDist(col("codes"), lit(qBits))
              .cast("double").as("distance")),
        k)
    }

    /** Broadcast-budget gate for the entry points that BROADCAST their
      * probe frame: nprobe probe copies per query, each carrying the
      * double-widened qvec at the code frame's (possibly FWHT-padded)
      * width — the [[Batches.boundedCheckScaled]] fan-out. NOT applied
      * inside [[probeFrame]] itself: [[knnJoinAsym]]'s default face
      * shuffles the same frame for corpus-sized query sides, where a
      * batch gate would wrongly refuse the distributed path. */
    private def gateProbeBroadcast(queries: DataFrame, what: String,
                                   nprobe: Int): Unit =
      Batches.boundedCheckScaled(queries, what,
        nprobe.toLong * 2L * codeDim)

    /** The probe frame ([[Cells.probes]]) with BQ's extra column:
      * (qid, qvec, cluster, qc2) rows. `qvec` is double-widened, and
      * under residual coding it is the PER-CELL residual q − centroid
      * with `qc2` = ‖q − centroid‖² — each probe row carries the query
      * frame its cell was coded in (qc2 is 0 when not residual). */
    private def probeFrame(queries: DataFrame, qIdCol: String, qVecCol: String,
                           k: Int, nprobe: Int): DataFrame = {
      val res = residual
      val frame: Array[Double] => Array[Double] =
        if (rotated) graft.functions.Rotate.rotateD else identity
      Cells.probes("BQ", queries, qIdCol, qVecCol, centroids, clusterSizes,
          k, nprobe, Seq("qid", "qvec", "cluster", "qc2")) { (cents, qid, q) =>
        if (res) c => {
          // qc2 = ‖q−c‖² BEFORE rotation (the pinned side of the
          // estimate; rotation preserves it in real arithmetic)
          val qd = residualOf(q, cents(c))
          var s = 0.0; var i = 0
          while (i < qd.length) { s += qd(i) * qd(i); i += 1 }
          (qid, frame(qd), c, s)
        } else {
          val qf = frame(q.map(_.toDouble))
          c => (qid, qf, c, 0.0)
        }
      }
    }

    /** The asymmetric score over a probe-joined code row. Plain coding:
      * −Σ qᵢ·sign(vᵢ) (smaller = more aligned; only comparable within
      * one coding frame). Residual coding: a true squared-distance
      * ESTIMATE, comparable across cells —
      *   ‖q−c‖² − (2/√d)·‖v−c‖·⟨q−c, sign(v−c)⟩ + ‖v−c‖²,
      * i.e. r ≈ ‖r‖·sign(r)/√d substituted into ‖(q−c) − r‖². The
      * sign-vector estimate lives in the CODE frame, so d is the
      * (padded) bit width, not the input dim. */
    private def asymScore: Column =
      if (residual) {
        val inv = 2.0 / math.sqrt(codeDim.toDouble)
        col("qc2") -
          BqMath.asymDot(col("codes"), col("qvec")) * col("rnorm") * lit(inv) +
          col("rnorm") * col("rnorm")
      } else lit(0.0d) - BqMath.asymDot(col("codes"), col("qvec"))

    /** Symmetric batch search: the query is sign-quantized in the scan
      * projection and distance is XOR+popcount over packed bytes —
      * (qid, id, distance) with distance = Hamming as double. Refuses
      * residual models (see [[requireSymmetricComparable]]). */
    def searchMany(queries: DataFrame, qIdCol: String, qVecCol: String,
                   k: Int, nprobe: Int = 2): DataFrame = {
      requireSymmetricComparable()
      gateProbeBroadcast(queries, "BQ.searchMany probe frame", nprobe)
      val probes = probeFrame(queries, qIdCol, qVecCol, k, nprobe)
      TopK.perQuery(
        codes.join(broadcast(probes), Seq("cluster"))
          .select(col("qid"), col("id"),
            BqMath.hammingDist(col("codes"), BqMath.packSignBits(col("qvec")))
              .cast("double").as("distance")),
        k)
    }

    /** Asymmetric batch search: distance = [[asymScore]] (the −q·sign
      * alignment, or the cross-cell squared-distance estimate under
      * residual coding). */
    def searchManyAsym(queries: DataFrame, qIdCol: String, qVecCol: String,
                       k: Int, nprobe: Int = 2): DataFrame = {
      gateProbeBroadcast(queries, "BQ.searchManyAsym probe frame", nprobe)
      val probes = probeFrame(queries, qIdCol, qVecCol, k, nprobe)
      TopK.perQuery(
        codes.join(broadcast(probes), Seq("cluster"))
          .select(col("qid"), col("id"), asymScore.as("distance")),
        k)
    }

    /** Corpus-scale asymmetric kNN join — [[searchManyAsym]]'s shuffle
      * twin for query sides too big to broadcast (the QUANTIZED
      * kNN-graph primitive: at 100 TB of floats the probed cell payload
      * is sign bits, 32× fewer scan/join bytes than
      * [[IVFFlat.Model.knnJoin]]). Probes equi-join on `cluster`; the
      * per-query cut is [[graft.functions.TopKAggExpr]]'s map-side
      * partial heaps. Scores follow the model's coding (plain: −q·sign;
      * residual: the cross-cell distance estimate). */
    def knnJoinAsym(queries: DataFrame, qIdCol: String, qVecCol: String,
                    k: Int, nprobe: Int = 2,
                    broadcastProbes: Boolean = false): DataFrame = {
      // broadcastProbes: bounded query batches going through the JOIN
      // face (e.g. knnJoinRefined's shortlist stage) — the codes table
      // is then scanned in place instead of co-shuffled with the
      // probes (344 MB at 10M codes). Keep false for corpus-sized
      // query sides: a corpus×nprobe probe frame must not broadcast.
      if (broadcastProbes)
        gateProbeBroadcast(queries,
          "BQ.knnJoinAsym probe frame (broadcastProbes=true)", nprobe)
      val probes0 = probeFrame(queries, qIdCol, qVecCol, k, nprobe)
      val probes = if (broadcastProbes) broadcast(probes0) else probes0
      TopK.perQuery(
        codes.join(probes, Seq("cluster"))
          .select(col("qid"), col("id"), asymScore.as("distance")),
        k)
    }

    /** Two-stage corpus-scale retrieval: bit shortlist
      * ([[knnJoinAsym]], factor×k) + exact float re-rank, with NO
      * broadcast assumption on either side — the 100 TB kNN-graph
      * shape. The float corpus is touched by an equi-join on `id` for
      * the shortlist rows only (shortlist-sized, never corpus×corpus);
      * queries re-join on `qid`. With shortlist ⊇ corpus this equals
      * float exhaustive exactly (the bq_knn_join_rerank oracle). */
    def knnJoinRefined(queries: DataFrame, qIdCol: String, qVecCol: String,
                       k: Int, factor: Int,
                       corpus: DataFrame, cIdCol: String, cVecCol: String,
                       nprobe: Int = 2,
                       broadcastShortlist: Boolean = false): DataFrame = {
      val shortlist0 = knnJoinAsym(queries, qIdCol, qVecCol, k * factor,
          nprobe, broadcastProbes = broadcastShortlist)
        .select(col("qid"), col("id"))
      // Serving batches (bounded queries): broadcast the |q|·k·factor
      // shortlist so the float corpus is PRUNED at its scan instead of
      // shuffled — AQE can't help here (both join sides' shuffles are
      // materialized before it picks a strategy; the 10M smoke measured
      // 5.3 GB corpus shuffle without the hint, ~0 with). Keep false
      // for corpus×corpus kNN-graph builds, where the shortlist is
      // corpus-sized and must not be broadcast.
      val shortlist =
        if (broadcastShortlist) broadcast(shortlist0) else shortlist0
      val q0 = queries.select(col(qIdCol).cast("long").as("qid"),
        col(qVecCol).cast("array<float>").as("qvec"))
      val q = if (broadcastShortlist) broadcast(q0) else q0
      val c = corpus.select(col(cIdCol).cast("long").as("id"),
        col(cVecCol).cast("array<float>").as("cvec"))
      TopK.perQuery(
        c.join(shortlist, Seq("id")).join(q, Seq("qid"))
          .select(col("qid"), col("id"),
            graft.functions.VectorOps.sqDist(col("cvec"), col("qvec"))
              .as("distance")),
        k)
    }

    /** Bit shortlist (factor×k, asymmetric score) + exact float re-rank
      * — the production BQ serving shape. The bit pass scans 32× fewer
      * bytes; the float pass touches shortlist×queries rows only
      * (broadcast — the float corpus never shuffles). With shortlist ⊇
      * corpus this equals float exhaustive exactly (the
      * bq_rerank_exact oracle lane). */
    def searchManyRefined(queries: DataFrame, qIdCol: String, qVecCol: String,
                          k: Int, factor: Int,
                          corpus: DataFrame, cIdCol: String, cVecCol: String,
                          nprobe: Int = 2): DataFrame = {
      // the re-rank probe broadcasts k·factor shortlist rows per query,
      // each joined to the raw-dim float qvec (searchManyAsym gates its
      // own probe frame inside)
      Batches.boundedCheckScaled(queries,
        "BQ.searchManyRefined shortlist probe",
        k.toLong * factor * centroids(0).length)
      graft.operators.Exhaustive.rerank(
        searchManyAsym(queries, qIdCol, qVecCol, k * factor, nprobe),
        queries, qIdCol, qVecCol, corpus, cIdCol, cVecCol, k)
    }

    /** Radius (range) search with exact re-rank — the 100-TB
      * "everything closer than τ" dup-sweep over 1-bit codes: probe
      * each query's `nprobe` nearest cells, keep candidates whose
      * asymmetric estimate passes `slack` (the shortlist), then score
      * ONLY the shortlist against the float corpus and keep true
      * distance ≤ `radius` (inclusive). The bit pass scans 32× fewer
      * bytes; the float pass touches shortlist×queries rows via a
      * broadcast-pruned corpus scan — the corpus never shuffles
      * (the searchManyRefined shape, with the data-dependent radius
      * contract instead of top-k).
      *
      * `slack` is in the model's estimate units: for residual coding
      * a true squared-distance estimate (set it to radius × a safety
      * factor — candidates the estimate puts far outside τ never reach
      * the float pass); for plain coding the −q·sign(v) alignment
      * score (lower = closer). The default ∞ disables estimate
      * pruning — the shortlist is every probed candidate, and with
      * every cell probed the result is EXACTLY the float radius sweep
      * (the bq_range_rerank oracle lane). False negatives come only
      * from unprobed cells and over-tight slack; the float re-rank
      * makes false positives impossible. */
    def rangeSearchRefined(queries: DataFrame, qIdCol: String, qVecCol: String,
                           radius: Double,
                           corpus: DataFrame, cIdCol: String, cVecCol: String,
                           slack: Double = Double.PositiveInfinity,
                           nprobe: Int = 2): DataFrame = {
      // k = 1: range search probes exactly the nprobe nearest cells.
      // (The shortlist broadcast below is data-dependent — estimate-
      // filtered probed candidates, no static per-query bound — so the
      // probe gate on the query batch is the enforceable contract.)
      gateProbeBroadcast(queries, "BQ.rangeSearchRefined probe frame", nprobe)
      val probes = probeFrame(queries, qIdCol, qVecCol, 1, nprobe)
      val shortlist = codes.join(broadcast(probes), Seq("cluster"))
        .select(col("qid"), col("id"), asymScore.as("est"))
        .filter(col("est") <= lit(slack))
        .select(col("qid"), col("id"))
      val q = queries.select(col(qIdCol).cast("long").as("qid"),
        col(qVecCol).cast("array<float>").as("qvec"))
      val c = corpus.select(col(cIdCol).cast("long").as("id"),
        col(cVecCol).cast("array<float>").as("cvec"))
      c.join(broadcast(shortlist.join(broadcast(q), "qid")), Seq("id"))
        .select(col("qid"), col("id"),
          graft.functions.VectorOps.sqDist(col("cvec"), col("qvec"))
            .as("distance"))
        .filter(col("distance") <= lit(radius))
    }

    /** Incremental add: assign against frozen centroids, pack the new
      * rows (narrow, residual-aware), union under the [[Lineage]]
      * cadence. */
    def add(rows: DataFrame, idCol: String, vecCol: String): Model = {
      val assigned = IVFFlat.assign(rows, idCol, vecCol, centroids)
      val packed =
        if (residual) compressResidualRows(assigned, centroids, rotated)
        else compressRows(assigned, rotated)
      val (df, n) = Lineage.compact(
        codes.unionByName(packed), addsSinceCompact)
      copy(codes = df, addsSinceCompact = n)
    }

    /** Takedown by id — broadcast anti-join, codes never shuffle. */
    def remove(ids: DataFrame, idCol: String): Model = {
      val (df, n) = Lineage.without(codes, ids, idCol, addsSinceCompact)
      copy(codes = df, addsSinceCompact = n)
    }

    /** Merge another BQ index into this one (cross-job compaction —
      * see [[MergeOps]]). Sign codes cannot re-derive without raw
      * vectors, and residual codes are taken AGAINST the cell centroid,
      * so both models must share the coarse centroids bitwise plus the
      * residual/rotation coding frame. Disjoint-id contract. */
    def merge(other: Model): Model = {
      require(residual == other.residual && rotated == other.rotated,
        "BQ.merge: coding frames differ (residual/rotated) — codes are not comparable")
      require(MergeOps.sameGrid(centroids, other.centroids),
        "BQ.merge: coarse centroids differ — sign codes cannot re-derive; rebuild instead")
      val (df, n) = Lineage.compact(
        codes.unionByName(other.codes), addsSinceCompact)
      copy(codes = df,
        clusterSizes = MergeOps.satAdd(clusterSizes, other.clusterSizes),
        addsSinceCompact = n)
    }

    /** Persist: codes partitioned by cluster (partition pruning on
      * probe), centroids + params as [[SQ8.Model.save]]. */
    def save(dir: String): Unit = {
      val spark = codes.sparkSession
      // disjoint files — overlap the code-table write with the 1-task
      // centroid sidecar write (guide §2.6, Overlap scaladoc)
      Overlap.par2(
        codes.write.mode("overwrite").partitionBy("cluster")
          .parquet(s"$dir/codes"),
        Cells.saveCentroids(spark, dir, centroids))
      ParamsIO.write(spark, dir,
        s"""{"k":${params.k},"numAttempts":${params.numAttempts},"maxIterations":${params.maxIterations},"seed":${params.seed},"tol":${params.tol},"residual":${if (residual) 1 else 0},"rotated":${if (rotated) 1 else 0},"sizes":${ParamsIO.longsJson(clusterSizes)}}""")
    }

    /** Pre-pay serving residency over the bit table
      * ([[Residency.warm]] — see [[IVFFlat.Model.warm]]). */
    def warm(): Model = { Residency.warm(codes); this }

    /** Release the bit table's storage ([[Residency.cool]]). */
    def cool(): Unit = Residency.cool(codes)
  }

  /** Per-cell recentering: v − centroid, double-widened (the sign of
    * this difference is the residual code bit and must match the
    * oracle's CAST-to-DOUBLE subtraction exactly). */
  private[index] def residualOf(v: Array[Float], c: Array[Float]): Array[Double] = {
    val r = new Array[Double](v.length)
    var i = 0
    while (i < v.length) { r(i) = v(i).toDouble - c(i).toDouble; i += 1 }
    r
  }

  /** Compress a built [[IVFFlat.Model]] — one narrow pass over the
    * indexed corpus; coarse state is shared, not retrained. `rotated`
    * signs the FWHT-rotated vector instead — the standard repair for
    * anisotropic embeddings, where raw sign bits concentrate on a few
    * high-energy coordinates (RotateSpec pins the recall lift). */
  def compress(ivf: IVFFlat.Model, rotated: Boolean = false): Model =
    Model(ivf.params, ivf.centroids, ivf.clusterSizes,
      compressRows(ivf.indexed, rotated), rotated = rotated)

  /** Residual-coded compress: codes are sign bits of v − centroid(cell)
    * — the within-cell discriminator plain sign codes lack on
    * clustered corpora (see class doc). Same storage, same probing.
    * `rotated` composes both repairs: sign(rotate(v − c)). */
  def compressResidual(ivf: IVFFlat.Model, rotated: Boolean = false): Model =
    Model(ivf.params, ivf.centroids, ivf.clusterSizes,
      compressResidualRows(ivf.indexed, ivf.centroids, rotated),
      residual = true, rotated = rotated)

  /** Reload a saved index ([[SQ8.load]] mapping). */
  def load(spark: SparkSession, dir: String): Model = {
    val json = ParamsIO.read(spark, dir)
    def intOf(key: String): Long = ParamsIO.num(json, key)
    val params = IVFFlat.Params(intOf("k").toInt, intOf("numAttempts").toInt,
      intOf("maxIterations").toInt, intOf("seed"),
      ParamsIO.dbl(json, "tol", 1e-6))
    val cents = Cells.loadCentroids(spark, dir)
    val isResidual = ParamsIO.dbl(json, "residual", 0.0) != 0.0
    val raw = spark.read.parquet(s"$dir/codes")
    val base = Seq(col("id"), col("codes"),
      col("cluster").cast("int").as("cluster"))
    val codes = raw.select(
      (if (isResidual) base :+ col("rnorm") else base): _*)
    Model(params, cents, Cells.sizesOr(json, params.k, codes), codes, residual = isResidual,
      rotated = ParamsIO.dbl(json, "rotated", 0.0) != 0.0)
  }
}
