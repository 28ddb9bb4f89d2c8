package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Quant, Sq8Math, TopK}

/** SQ8 — IVF over per-vector affine int8 codes: the storage-scale
  * serving tier. Same coarse quantizer and adaptive probing as
  * [[IVFFlat]] (ivfflat.rs:153-198 semantics), but the cell payload is
  * a packed BINARY code (1 byte/dim + two doubles) instead of
  * `ARRAY<FLOAT>` (4 bytes/dim): ~4× fewer bytes in the parquet scan,
  * the probe join, and the page cache. At 100 TB the embedding column
  * IS the table, so the probe pass scans 25 TB instead of 100 TB — and
  * distance runs directly over the packed bytes
  * ([[graft.functions.Sq8DistExpr]], dequantize-in-register), never
  * materializing a float array per candidate.
  *
  * Accuracy: per-vector affine quantization bounds each element's
  * error by scale/2 = (hi−lo)/510, so distances are exact to
  * O(dim · scale · ‖q−v‖) — recall loss is negligible for normalized
  * embeddings (gated in SQ8Spec and the 1M smoke). Probing ALL cells
  * makes the search EXACT over the dequantized corpus, which is the
  * driver-oracle lane (sq8_search_all): DuckDB reproduces
  * quantize→dequantize→exhaustive bit-for-bit because [[Quant]]'s
  * rounding is floor-based and the distance fold is 0.0-seeded
  * left-to-right in double.
  *
  * Why not residual coding on top? That tier exists — [[IVFPQ]] with
  * residual codebooks. SQ8 is the simpler point on the curve: no
  * training beyond the coarse cells, exactly one code per dimension,
  * reconstruction good enough to skip re-ranking entirely.
  */
object SQ8 {

  /** Compressed code row layout: (id, cluster, lo, scale, codes). With
    * `rotated`, codes quantize the FWHT-rotated vector (ARRAY<DOUBLE>,
    * padded to a power of two) — [[graft.functions.Rotate]] spreads
    * energy uniformly so the per-vector affine range isn't dominated by
    * a few hot coordinates (the anisotropic-embedding regime). The
    * coarse layer (centroids, probe order) stays in the ORIGINAL frame:
    * rotation is orthogonal, so cell geometry is unchanged. */
  private def compressRows(indexed: DataFrame, rotated: Boolean): DataFrame = {
    val v =
      if (rotated) graft.functions.Rotate.rotate(col("vector").cast("array<float>"))
      else col("vector")
    indexed.select(
      col("id"), col("cluster"),
      Quant.int8Lo(v).as("lo"),
      Quant.int8Scale(v).as("scale"),
      Sq8Math.packU8(Quant.int8Codes(v)).as("codes"))
  }

  /** Built index: broadcastable coarse state + the packed code table.
    * `rotated` marks codes built over FWHT-rotated vectors — queries
    * are rotated at search time; probing stays in the original frame
    * (orthogonal ⇒ identical cell geometry). */
  case class Model(params: IVFFlat.Params,
                   centroids: Array[Array[Float]],
                   clusterSizes: Array[Long],
                   codes: DataFrame,
                   addsSinceCompact: Int = 0,
                   rotated: Boolean = false) {

    def probeSet(query: Array[Float], k: Int, minProbe: Int = 1): Seq[Int] =
      IVFFlat.probeOrder(centroids, clusterSizes, query, k, minProbe)

    /** Double-widened (and, when `rotated`, FWHT-rotated) query — the
      * frame the codes were quantized in. Widening floats to double is
      * exact, so the non-rotated distance is bit-identical to folding
      * the float query directly. */
    private def codeFrameQ(q: Array[Float]): Array[Double] = {
      val d = new Array[Double](q.length)
      var i = 0
      while (i < q.length) { d(i) = q(i).toDouble; i += 1 }
      if (rotated) graft.functions.Rotate.rotateD(d) else d
    }

    /** Single-query search: partition-pruned scan of probed cells →
      * fused SQ8 distance → TakeOrderedAndProject. */
    def search(query: Array[Float], k: Int, minProbe: Int = 1): DataFrame = {
      Cells.requireDim("SQ8", query, centroids)
      val probed = probeSet(query, k, minProbe)
      TopK.one(
        codes.filter(Cells.inCells(probed))
          .select(col("id"),
            Sq8Math.sq8Dist(col("codes"), col("lo"), col("scale"),
              typedlit(codeFrameQ(query))).as("distance")),
        k)
    }

    /** Broadcast floats per QUERY row of the probe frame: nprobe
      * probe copies, each carrying the query at its code-frame width
      * (float at raw dim unrotated; double at the FWHT-padded dim
      * rotated) — the [[Batches.boundedCheckScaled]] fan-out. */
    private def probeRowFloats(nprobe: Int): Long =
      if (rotated)
        nprobe.toLong * 2L * graft.functions.Rotate.padLenOf(centroids(0).length)
      else nprobe.toLong * centroids(0).length

    /** The probe frame ([[Cells.probes]]): probe in the original frame,
      * carry the code-frame query. The kernel widens each element to
      * double in-register, so the NON-rotated probe row keeps the query
      * FLOAT — bit-identical distances at half the broadcast/build-row
      * width (the probe row is re-read once per joined code row, so its
      * width is hot-loop memory traffic, not just broadcast size).
      * Rotation happens in double (rotateD is the exact frame the codes
      * were quantized in), so the rotated probe row stays
      * double-widened. */
    private def probes(queries: DataFrame, qIdCol: String, qVecCol: String,
                       k: Int, nprobe: Int): DataFrame =
      if (rotated)
        Cells.probes("SQ8", queries, qIdCol, qVecCol, centroids, clusterSizes,
            k, nprobe) { (_, qid, q) =>
          val qf = graft.functions.Rotate.rotateD(q.map(_.toDouble))
          c => (qid, qf, c)
        }
      else
        Cells.probes("SQ8", queries, qIdCol, qVecCol, centroids, clusterSizes,
          k, nprobe)((_, qid, q) => c => (qid, q, c))

    /** Batch search — [[IVFFlat.Model.searchMany]]'s plan shape (probes
      * broadcast, small batches cell-pruned, codes never shuffle,
      * per-query bounded heap after the distance map), with the fused
      * SQ8 kernel as the distance. */
    def searchMany(queries: DataFrame, qIdCol: String, qVecCol: String,
                   k: Int, nprobe: Int = 2): DataFrame = {
      Batches.boundedCheckScaled(queries, "SQ8.searchMany probe frame",
        probeRowFloats(nprobe))
      TopK.perQuery(
        Cells.pruned(codes, probes(queries, qIdCol, qVecCol, k, nprobe),
            centroids.length)
          .select(col("qid"), col("id"),
            Sq8Math.sq8Dist(col("codes"), col("lo"), col("scale"),
              col("qvec")).as("distance")),
        k)
    }

    /** Radius (range) search on the SQ8 tier — the FAISS
      * IndexIVFScalarQuantizer.range_search counterpart: probe each
      * query's `nprobe` nearest cells and return EVERY probed code
      * whose DEQUANTIZED distance is within `radius` (inclusive, the
      * engine's uniform boundary). The 100-TB dup-sweep shape: the
      * radius filter runs inside the byte-code scan (~4× fewer scan
      * bytes than the float tier), there is no top-k aggregation, and
      * the only rows that move ARE results. Distances are the fused
      * dequantize-in-register kernel, exact to O(dim·scale) of the
      * float distance; probing ALL cells makes the result exactly the
      * radius sweep over the dequantized corpus — the sq8_range_all
      * oracle (DuckDB replays quantize→dequantize→filter bit-for-bit,
      * the sq8_search_all idiom). */
    def rangeSearchMany(queries: DataFrame, qIdCol: String, qVecCol: String,
                        radius: Double, nprobe: Int = 2): DataFrame = {
      Batches.boundedCheckScaled(queries, "SQ8.rangeSearchMany probe frame",
        probeRowFloats(nprobe))
      codes.join(broadcast(probes(queries, qIdCol, qVecCol, 1, nprobe)),
          Seq("cluster"))
        .select(col("qid"), col("id"),
          Sq8Math.sq8Dist(col("codes"), col("lo"), col("scale"),
            col("qvec")).as("distance"))
        .filter(col("distance") <= lit(radius))
    }

    /** SQ8 shortlist (factor×k over the byte codes) + exact re-rank
      * against the full-precision corpus — [[PQ]]'s serving shape at
      * the SQ8 point of the compression curve. The byte pass scans
      * ~4× fewer bytes; the float pass touches only shortlist×queries
      * rows (broadcast, the corpus never shuffles). With the shortlist
      * ≥ corpus this equals float exhaustive exactly — the
      * sq8_rerank_exact oracle lane. */
    def searchManyRefined(queries: DataFrame, qIdCol: String, qVecCol: String,
                          k: Int, factor: Int,
                          corpus: DataFrame, cIdCol: String, cVecCol: String,
                          nprobe: Int = 2): DataFrame = {
      // the re-rank probe broadcasts k·factor shortlist rows per query,
      // each joined to the raw-dim float qvec (searchMany gates its own
      // probe frame inside)
      Batches.boundedCheckScaled(queries,
        "SQ8.searchManyRefined shortlist probe",
        k.toLong * factor * centroids(0).length)
      graft.operators.Exhaustive.rerank(
        searchMany(queries, qIdCol, qVecCol, k * factor, nprobe),
        queries, qIdCol, qVecCol, corpus, cIdCol, cVecCol, k)
    }

    /** Incremental add: assign against frozen centroids, compress the
      * new rows (narrow), union under the [[Lineage]] cadence. */
    def add(rows: DataFrame, idCol: String, vecCol: String): Model = {
      val assigned = IVFFlat.assign(rows, idCol, vecCol, centroids)
      val (df, n) = Lineage.compact(
        codes.unionByName(compressRows(assigned, rotated)), addsSinceCompact)
      copy(codes = df, addsSinceCompact = n)
    }

    /** Takedown by id — broadcast anti-join, codes never shuffle. */
    def remove(ids: DataFrame, idCol: String): Model = {
      val (df, n) = Lineage.without(codes, ids, idCol, addsSinceCompact)
      copy(codes = df, addsSinceCompact = n)
    }

    /** Merge another SQ8 index into this one (cross-job compaction —
      * see [[MergeOps]]). Codes carry no raw vectors, so the incoming
      * rows cannot re-assign: both models must share the coarse
      * centroids bitwise (and the rotation frame). The union is free —
      * per-vector affine codes are cell-independent, only the cluster
      * column ties a row to the coarse grid. Disjoint-id contract. */
    def merge(other: Model): Model = {
      require(rotated == other.rotated,
        "SQ8.merge: rotation frames differ — codes are not comparable")
      require(MergeOps.sameGrid(centroids, other.centroids),
        "SQ8.merge: coarse centroids differ — codes carry no raw vectors to re-assign; rebuild instead")
      val (df, n) = Lineage.compact(
        codes.unionByName(other.codes), addsSinceCompact)
      copy(codes = df,
        clusterSizes = MergeOps.satAdd(clusterSizes, other.clusterSizes),
        addsSinceCompact = n)
    }

    /** Persist: codes partitioned by cluster (partition pruning on
      * probe), centroids + params like [[IVFFlat.Model.save]]. */
    def save(dir: String): Unit = {
      val spark = codes.sparkSession
      // disjoint files — overlap the code-table write with the 1-task
      // centroid sidecar write (guide §2.6, Overlap scaladoc)
      Overlap.par2(
        codes.write.mode("overwrite").partitionBy("cluster")
          .parquet(s"$dir/codes"),
        Cells.saveCentroids(spark, dir, centroids))
      ParamsIO.write(spark, dir,
        s"""{"k":${params.k},"numAttempts":${params.numAttempts},"maxIterations":${params.maxIterations},"seed":${params.seed},"tol":${params.tol},"rotated":${if (rotated) 1 else 0},"sizes":${ParamsIO.longsJson(clusterSizes)}}""")
    }

    /** Pre-pay serving residency over the code table
      * ([[Residency.warm]] — see [[IVFFlat.Model.warm]]). */
    def warm(): Model = { Residency.warm(codes); this }

    /** Release the code table's storage ([[Residency.cool]]). */
    def cool(): Unit = Residency.cool(codes)
  }

  /** Compress a built [[IVFFlat.Model]] — one narrow pass over the
    * indexed corpus; coarse state is shared, not retrained. `rotated`
    * quantizes the FWHT-rotated vectors instead (see [[compressRows]]):
    * the affine int8 range then covers energy spread uniformly across
    * coordinates, the regime anisotropic LLM embeddings violate. */
  def compress(ivf: IVFFlat.Model, rotated: Boolean = false): Model =
    Model(ivf.params, ivf.centroids, ivf.clusterSizes,
      compressRows(ivf.indexed, rotated), rotated = rotated)

  /** Reload a saved index ([[IVFFlat.load]] mapping). */
  def load(spark: SparkSession, dir: String): Model = {
    val json = ParamsIO.read(spark, dir)
    def intOf(key: String): Long = ParamsIO.num(json, key)
    val params = IVFFlat.Params(intOf("k").toInt, intOf("numAttempts").toInt,
      intOf("maxIterations").toInt, intOf("seed"),
      ParamsIO.dbl(json, "tol", 1e-6))
    val cents = Cells.loadCentroids(spark, dir)
    val codes = spark.read.parquet(s"$dir/codes")
      .select(col("id"), col("lo"), col("scale"), col("codes"),
        col("cluster").cast("int").as("cluster"))
    Model(params, cents, Cells.sizesOr(json, params.k, codes), codes,
      rotated = ParamsIO.dbl(json, "rotated", 0.0) != 0.0)
  }
}
