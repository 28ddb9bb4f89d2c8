package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TopK

/** IVF-PQ composed index — the reference's adaptive cell-probing idea
  * (vers/src/indexes/ivfflat.rs:153-198) composed with product
  * quantization: queries route to their nearest coarse cells and the
  * asymmetric-distance (ADC) scan runs ONLY over the codes inside probed
  * cells, instead of [[PQ.Model.searchMany]]'s flat full-code scan. At
  * 10¹⁰ rows that is the difference between scanning every code per
  * query batch and scanning nprobe/numCells of them — at PQ storage cost
  * (m bytes per vector).
  *
  * Spark-first shapes (the same discipline as the parent indexes):
  *  - codes carry a `cluster` column and persist PARTITIONED by it, so a
  *    probe is partition pruning on the scan (the IVFFlat.save layout);
  *  - build is ONE fused narrow pass per row: coarse argmin + per-subspace
  *    code against broadcast centroids/codebooks — no join between the
  *    coarse and fine models, no shuffle;
  *  - search is the [[SQ8]] serving shape: a probe frame of
  *    (qid, query-vector, cluster) rows — residual-SHIFTED per probed
  *    cell when residual, so the scan needs no centroid access —
  *    broadcast-joins the codes on cluster, the fused
  *    [[graft.functions.PqAdcExpr]] codegen kernel scores each m-byte
  *    code in-register (bit-identical to the LUT formulation by
  *    construction — same 0.0-seeded double folds in the same order),
  *    and the partial-aggregating TopKAggExpr cut moves only ≤ k
  *    (qid, id, distance) triples per (partition, query) — codes and
  *    corpus vectors never shuffle, queries ride the serving-sized
  *    broadcast (the HNSW.searchMany contract). No LUTs, no
  *    mapPartitions deserialization: the whole probe → distance →
  *    top-k pipeline is one whole-stage-codegen stage (the LUT
  *    predecessor measured ~6× the SQ8 kernel's wall at 10⁸ probed
  *    pairs purely on per-row Dataset decode — BASELINE r13);
  *  - optional RESIDUAL encoding (standard IVF-PQ): codes quantize
  *    v − centroid(cell), so quantization error shrinks to intra-cell
  *    scale at identical storage; the probe frame then carries one
  *    shifted query copy per probed cell (nprobe × dim floats per
  *    query — still serving-sized).
  */
object IVFPQ {

  case class Model(coarse: Array[Array[Float]],
                   clusterSizes: Array[Long],
                   pqParams: PQ.Params, dim: Int, residual: Boolean,
                   codebooks: Array[Array[Array[Float]]],
                   codes: DataFrame /* id: long, cluster: int, code: binary(m) */,
                   addsSinceCompact: Int = 0) {

    /** The probe frame ([[Cells.probes]]): the query is
      * RESIDUAL-SHIFTED by each probed cell's centroid when the codes
      * are residual-encoded, so the scan needs no centroid access. The
      * frame rides an executor broadcast, so the serving-budget contract
      * applies, scaled by its true fan-out (nprobe shifted query copies
      * per row) so the accepted batch size implies a bounded broadcast. */
    private def probes(queries: DataFrame, qIdCol: String, qVecCol: String,
                       k: Int, nprobe: Int, what: String): DataFrame = {
      Batches.boundedCheckScaled(queries, what, nprobe.toLong * dim)
      val res = residual
      Cells.probes("IVFPQ", queries, qIdCol, qVecCol, coarse, clusterSizes,
          k, nprobe) { (cents, qid, q) => c =>
        val qv = if (res) {
          val cv = cents(c)
          Array.tabulate(q.length)(i => q(i) - cv(i))
        } else q
        (qid, qv, c)
      }
    }

    /** Probed-cell ADC batch top-k. Probe widening is the shared
      * [[IVFFlat.probeOrder]] (adaptive, ivfflat.rs:168-195 semantics),
      * so the coarse routing agrees bitwise with IVFFlat search.
      *
      * The SQ8.searchMany serving shape: the probe frame broadcasts
      * into the cluster-equi-join against the cell-pruned code scan
      * ([[Cells.pruned]]); [[graft.functions.PqAdcExpr]] scores each
      * m-byte code in-register inside whole-stage codegen
      * (bit-identical to the former LUT path — same double folds, same
      * order), and the [[TopK.perQuery]] cut moves only ≤ k triples
      * per (partition, query). Codes and corpus vectors never shuffle
      * (plan-gated in PlanSpec). */
    def searchMany(queries: DataFrame, qIdCol: String, qVecCol: String,
                   k: Int, nprobe: Int = 2): DataFrame =
      TopK.perQuery(
        Cells.pruned(codes,
            probes(queries, qIdCol, qVecCol, k, nprobe, "IVFPQ.searchMany query"),
            coarse.length)
          .select(col("qid"), col("id"),
            graft.functions.PqMath.adcDist(col("code"), col("qvec"),
              codebooks).as("distance")),
        k)

    /** Radius (range) search on the composed index — the FAISS
      * IndexIVFPQ.range_search shape re-expressed for Spark, completing
      * the compressed-tier radius matrix (SQ8 ADC-filter, BQ shortlist
      * re-rank, and now IVF-PQ): the ADC estimate prunes INSIDE the
      * probed m-byte code scan at a `slack` threshold (ADC errs by
      * quantization, so slack > radius buys recall), survivors re-rank
      * EXACTLY against the full-precision corpus (broadcast shortlist —
      * the corpus never shuffles), and the inclusive radius filter runs
      * over exact distances. False positives are impossible by
      * construction; false negatives only from unprobed cells or an
      * over-tight slack (spec-gated monotonicity in IVFPQSpec). Probing
      * all cells at slack = ∞ passes every code to the exact pass — the
      * exhaustive radius sweep, which the pq_ivf_range_rerank lane
      * replays under the range_search oracle verbatim. The ADC filter
      * runs inside the same probe-frame + codegen-kernel scan as
      * [[searchMany]] — the only rows that leave it are survivors. */
    def rangeSearchRefined(queries: DataFrame, qIdCol: String, qVecCol: String,
                           radius: Double,
                           corpus: DataFrame, cIdCol: String, cVecCol: String,
                           slack: Double = Double.PositiveInfinity,
                           nprobe: Int = 2): DataFrame = {
      val shortlist = Cells.pruned(codes,
          probes(queries, qIdCol, qVecCol, 1, nprobe, "IVFPQ.rangeSearchRefined query"),
          coarse.length)
        .select(col("qid"), col("id"),
          graft.functions.PqMath.adcDist(col("code"), col("qvec"),
            codebooks).as("adc"))
        .filter(col("adc") <= lit(slack))
        .select(col("qid"), col("id"))
      val q = queries.select(col(qIdCol).cast("long").as("qid"),
        col(qVecCol).cast("array<float>").as("qvec"))
      val c = corpus.select(col(cIdCol).cast("long").as("id"),
        col(cVecCol).cast("array<float>").as("cvec"))
      // NO broadcast hint on the survivor shortlist: unlike
      // searchManyRefined's k×factor-bounded list, radius survivors are
      // data-dependent — at slack = ∞ every probed code survives, a
      // corpus-fraction × queries frame that would blow the driver
      // broadcast limit at scale. AQE broadcasts it anyway whenever the
      // runtime size is actually small; the query side stays hinted.
      c.join(shortlist.join(broadcast(q), "qid"), Seq("id"))
        .select(col("qid"), col("id"),
          graft.functions.VectorOps.sqDist(col("cvec"), col("qvec"))
            .as("distance"))
        .filter(col("distance") <= lit(radius))
    }

    /** ADC shortlist (factor×k) within probed cells + exact re-rank
      * against the full-precision vectors — the serving shape that
      * recovers exact-distance ordering at PQ scan cost. */
    def searchManyRefined(queries: DataFrame, qIdCol: String, qVecCol: String,
                          k: Int, factor: Int, nprobe: Int,
                          corpus: DataFrame, cIdCol: String, cVecCol: String)
    : DataFrame =
      graft.operators.Exhaustive.rerank(
        searchMany(queries, qIdCol, qVecCol, k * factor, nprobe),
        queries, qIdCol, qVecCol, corpus, cIdCol, cVecCol, k)

    /** Incremental add — Index::add for the composed index: one fused
      * narrow pass assigns each new row to its frozen coarse cell and
      * encodes it against the frozen codebooks (residual-aware), then
      * unions the codes. Cluster sizes stay frozen like IVFFlat.add's —
      * probeOrder's adaptivity degrades gracefully as cells grow; a
      * rebuild is the rebalancing maintenance job. Repeated adds
      * compact their union lineage — see [[Lineage]]. */
    def add(rows: DataFrame, idCol: String, vecCol: String): Model = {
      val (df, n) = Lineage.compact(
        codes.unionByName(
          IVFPQ.build(rows, idCol, vecCol, coarse, clusterSizes, codebooks,
            pqParams, residual).codes),
        addsSinceCompact)
      copy(codes = df, addsSinceCompact = n)
    }

    /** Takedown twin of [[IVFFlat.Model.remove]]: anti-join the codes
      * on id; cluster sizes stay frozen. Post-remove overcounts NARROW
      * the adaptive probe set (cumulative-k fills sooner) — serve with
      * an explicit nprobe or rebuild after large takedowns. */
    def remove(ids: DataFrame, idCol: String): Model = {
      val (df, n) = Lineage.without(codes, ids, idCol, addsSinceCompact)
      copy(codes = df, addsSinceCompact = n)
    }

    /** Merge another IVFPQ index into this one (cross-job compaction —
      * see [[MergeOps]]). Codes decode against the codebooks AND — when
      * residual — against the cell centroid they were recentered on, so
      * both models must share coarse centroids and codebooks bitwise.
      * Disjoint-id contract. */
    def merge(other: Model): Model = {
      require(residual == other.residual,
        "IVFPQ.merge: residual coding frames differ — codes are not comparable")
      require(MergeOps.sameGrid(coarse, other.coarse),
        "IVFPQ.merge: coarse centroids differ — codes cannot re-derive; rebuild instead")
      require(MergeOps.sameBooks(codebooks, other.codebooks),
        "IVFPQ.merge: codebooks differ — codes cannot re-encode; rebuild instead")
      val (df, n) = Lineage.compact(
        codes.unionByName(other.codes), addsSinceCompact)
      copy(codes = df,
        clusterSizes = MergeOps.satAdd(clusterSizes, other.clusterSizes),
        addsSinceCompact = n)
    }

    /** Persist: codes partitioned by cluster (→ partition pruning on
      * probe), coarse centroids + codebooks as parquet, params JSON. */
    def save(dir: String): Unit = {
      val spark = codes.sparkSession
      import spark.implicits._
      // the three artifacts are disjoint files — overlap the writes
      // (Overlap scaladoc; the two sidecars are 1-task driver frames
      // whose cost is planning+commit latency, not cluster work)
      Overlap.par3(
        codes.write.mode("overwrite").partitionBy("cluster")
          .parquet(s"$dir/codes"),
        Cells.saveCentroids(spark, dir, coarse),
        codebooks.zipWithIndex.flatMap { case (cb, s) =>
          cb.zipWithIndex.map { case (cv, j) => (s, j, cv) }
        }.toSeq.toDF("s", "j", "centroid")
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks"))
      val p = pqParams
      ParamsIO.write(spark, dir,
        s"""{"m":${p.m},"k":${p.k},"iterations":${p.iterations},"seed":${p.seed},"dim":$dim,"numCells":${coarse.length},"residual":${if (residual) 1 else 0},"sizes":${ParamsIO.longsJson(clusterSizes)}}""")
    }

    /** Pre-pay serving residency over the residual-code table
      * ([[Residency.warm]] — see [[IVFFlat.Model.warm]]). */
    def warm(): Model = { Residency.warm(codes); this }

    /** Release the code table's storage ([[Residency.cool]]). */
    def cool(): Unit = Residency.cool(codes)
  }

  /** Fused assign+encode: ONE narrow pass computes each row's coarse
    * cell (argmin over broadcast centroids, ivfflat.rs:29-46 kernel) and
    * its m-byte PQ code (residual-aware) — no shuffle, no join between
    * the coarse and fine models. This is both the pinned-parts oracle
    * path and the composition of separately trained IVF + PQ models. */
  def build(emb: DataFrame, idCol: String, vecCol: String,
            coarse: Array[Array[Float]], clusterSizes: Array[Long],
            codebooks: Array[Array[Array[Float]]], pqParams: PQ.Params,
            residual: Boolean = false): Model = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast((coarse, codebooks))
    val res = residual
    val codesDf = emb.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<float>").as("vector"))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        val (cents, cbs) = bc.value
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < cents.length) {
          val d = IVFFlat.sqDistLocal(cents(c), v)
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        val enc = if (res) {
          val cv = cents(best)
          Array.tabulate(v.length)(i => v(i) - cv(i))
        } else v
        val code = new Array[Byte](cbs.length)
        var s = 0
        var off = 0
        while (s < cbs.length) {
          code(s) = PQ.nearestSub(cbs(s), enc, off).toByte
          s += 1
          off += cbs(s - 1)(0).length
        }
        (id, best, code)
      }
      .toDF("id", "cluster", "code")
    Model(coarse, clusterSizes, pqParams, codebooks.map(_(0).length).sum,
      residual, codebooks, codesDf)
  }

  /** Full training: coarse cells via [[IVFFlat.build]] (k-means +
    * restart-keep-best, ivfflat.rs:102-136), PQ codebooks via Lloyd's —
    * over RESIDUALS when `residual` (the standard IVF-PQ recipe) — then
    * the fused assign+encode pass. */
  def train(emb: DataFrame, idCol: String, vecCol: String,
            ivfParams: IVFFlat.Params, pqParams: PQ.Params,
            residual: Boolean = true): Model = {
    val ivf = IVFFlat.build(emb, idCol, vecCol, ivfParams)
    val out = trainWithCoarse(emb, idCol, vecCol, ivf, pqParams, residual)
    ivf.indexed.unpersist()
    out
  }

  /** Train codebooks against a PRE-BUILT coarse model and fuse-encode —
    * the composition API for serving stacks whose coarse cells and
    * codebooks live on different maintenance cadences (cell rebalance is
    * a clustering job, codebook retrain is a Lloyd's job; neither should
    * force the other). The caller keeps ownership of `ivf` (its cache is
    * not released here). */
  def trainWithCoarse(emb: DataFrame, idCol: String, vecCol: String,
                      ivf: IVFFlat.Model, pqParams: PQ.Params,
                      residual: Boolean = true): Model = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bcC = spark.sparkContext.broadcast(ivf.centroids)
    // ivf.indexed already carries (id, vector, cluster) and is cached
    val trainRows =
      if (residual)
        ivf.indexed.select(col("id"), col("vector"), col("cluster"))
          .as[(Long, Array[Float], Int)]
          .map { case (id, v, c) =>
            val cv = bcC.value(c)
            (id, Array.tabulate(v.length)(i => v(i) - cv(i)))
          }
          .toDF("id", "vector").persist()
      else ivf.indexed.select(col("id"), col("vector"))
    val (cbs, _, kk) = PQ.lloydCodebooks(trainRows, pqParams)
    val model = build(emb, idCol, vecCol, ivf.centroids, ivf.clusterSizes,
      cbs, pqParams.copy(k = kk), residual)
    val out = model.copy(codes = model.codes.localCheckpoint(true))
    if (residual) trainRows.unpersist()
    out
  }

  def load(spark: SparkSession, dir: String): Model = {
    val json = ParamsIO.read(spark, dir)
    def num(key: String): Long = ParamsIO.num(json, key)
    val pqParams = PQ.Params(num("m").toInt, num("k").toInt,
      num("iterations").toInt, num("seed"))
    // two independent tiny sidecar collects — overlap (guide §2.6)
    val (cents, cbRows) = Overlap.par2(
      Cells.loadCentroids(spark, dir),
      spark.read.parquet(s"$dir/codebooks").collect())
    val byS = cbRows.groupBy(_.getInt(0))
    val cbs = (0 until pqParams.m).map { s =>
      byS(s).sortBy(_.getInt(1))
        .map(_.getAs[scala.collection.Seq[Float]](2).toArray)
    }.toArray
    val codes = spark.read.parquet(s"$dir/codes")
      .select(col("id"), col("cluster").cast("int").as("cluster"), col("code"))
    Model(cents, Cells.sizesOr(json, num("numCells").toInt, codes), pqParams, num("dim").toInt,
      num("residual") == 1L, cbs, codes)
  }
}
