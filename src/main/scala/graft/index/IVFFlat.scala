package graft.index

import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType, LongType}

import graft.functions.TopK
import graft.functions.VectorOps._

/** IVFFlat index — k-means partitioning + cluster-probed search, the Spark
  * re-expression of `vers/src/indexes/ivfflat.rs`.
  *
  * Design for scale (SURVEY §2.4, §4):
  *  - Build: k-means with D²-weighted seeding (k-means++ or k-means||,
  *    which beat the reference's random init, ivfflat.rs:18-27 —
  *    deviation documented there as a quality bug, not a semantic
  *    contract). The reference's `num_attempts` restart loop keeping the
  *    lowest-cost run (ivfflat.rs:102-136) is a driver loop over seeds.
  *    An input under the shared driver gate ([[DriverGate]]) trains in
  *    memory on the driver, as the reference does (k-means++ and Lloyd's
  *    in double, no job past the one that collects the rows); a larger
  *    one, or one of unknown size, trains with MLlib `KMeans`
  *    (k-means||). The two give different centroids for the same rows;
  *    [[build]] has the detail.
  *  - The indexed corpus gains a `cluster` column and is written
  *    partitioned by it; a probe is then a filter on the partition column →
  *    Spark partition pruning reads only the probed clusters. This replaces
  *    the reference's in-memory inverted lists (ivfflat.rs:122-130) with a
  *    storage layout — the only structure that survives 100 TB. A warmed
  *    model additionally keeps the rows packed and resident (cell, id,
  *    vector in chunks; [[Model.warm]]), which is the in-memory list
  *    shape again, with no shuffle at warm.
  *  - Assignment: broadcast centroids + a narrow per-row argmin (no
  *    crossJoin blowup, no shuffle) — exactly the reference's rayon
  *    par_iter assignment (ivfflat.rs:29-46) in Spark's execution model.
  *  - Search: centroids are driver-side (k ≪ corpus); probe set = nearest
  *    clusters whose cumulative size covers k (the reference's adaptive
  *    widening, ivfflat.rs:168-195, computed closed-form from cluster
  *    sizes), then exact re-rank within probed clusters only. Deviation
  *    (documented): we return the global top-k over the probed set, not
  *    the reference's per-cluster-precedence fill — strictly better
  *    recall, same cost. A single `search` is one RDD job over packed
  *    rows plus a driver-side merge ([[Serve.topK]]): the resident rows
  *    of a warm model, or the probed cells' rows packed for the call
  *    (partition-pruned on a loaded tier). A warm batch search is
  *    likewise one job over the packed rows with a per-query driver
  *    merge ([[Serve.topKMany]]); a cold one plans the pruned probe join.
  *  - `add`: assign new rows against frozen centroids (centroids never
  *    retrained, matching ivfflat.rs:200-213) — but we honour the caller's
  *    id rather than shadowing it (ivfflat.rs:209 quirk, fixed per SURVEY
  *    §7).
  */
object IVFFlat {

  /** `tol` is a documented deviation from the reference's bitwise
    * convergence rule (ivfflat.rs:84-95 ≙ tol = 0): double-precision
    * centroids almost never stop moving bitwise, so tol = 0 burns
    * maxIterations × numAttempts full passes — at 100 TB every wasted
    * iteration is a full corpus scan. A tiny ε stops when centroids are
    * stationary to 1e-6, which assigns identically in practice; pass
    * tol = 0.0 for the reference's exact behavior. */
  case class Params(k: Int, numAttempts: Int = 3, maxIterations: Int = 20,
                    seed: Long = 42L, tol: Double = 1e-6)

  /** Built index: small broadcastable state (centroids + sizes) and the
    * big state as a DataFrame (id, vector, cluster). */
  case class Model(params: Params,
                   centroids: Array[Array[Float]],
                   clusterSizes: Array[Long],
                   indexed: DataFrame,
                   addsSinceCompact: Int = 0) {

    /** Probe-set for one query: nearest clusters (by sqdist of centroid)
      * until their cumulative size covers `k` — the adaptive nprobe of
      * ivfflat.rs:168-195 — never fewer than `minProbe`. */
    def probeSet(query: Array[Float], k: Int, minProbe: Int = 1): Seq[Int] = {
      Cells.requireDim("IVFFlat", query, centroids)
      IVFFlat.probeOrder(centroids, clusterSizes, query, k, minProbe)
    }

    /** The (qid, qvec, cluster) probe frame ([[Cells.probes]]): IVFFlat
      * scores the raw float query in every cell. */
    private def probes(queries: DataFrame, qIdCol: String, qVecCol: String,
                       k: Int, nprobe: Int): DataFrame =
      Cells.probes("IVFFlat", queries, qIdCol, qVecCol, centroids,
        clusterSizes, k, nprobe)((_, qid, q) => c => (qid, q, c))

    /** The packed rows a warm model serves from ([[warm]], [[cool]]). */
    @transient private[graft] lazy val serving =
      new Serve.Resident(() => IVFFlat.packCells(indexed))

    /** The records a search scores: the resident copy of a warm model,
      * else `rows` packed for this call only. */
    private def packed(rows: => DataFrame): RDD[CellRows] =
      serving.get.getOrElse(IVFFlat.packCells(rows))

    /** Single-query search over the probed cells: one RDD job scores
      * the rows of probed cells exactly and the driver merges the
      * per-task top-k ([[Serve.topK]]), with no shuffle. A warm model
      * scans its resident packed rows; a cold one packs the rows of
      * `indexed` that pass the probed-cell filter ([[Cells.inCells]]),
      * so a loaded tier reads only the probed parquet partitions. */
    def search(query: Array[Float], k: Int, minProbe: Int = 1): DataFrame = {
      val probed = probeSet(query, k, minProbe)
      val rows = packed(indexed.filter(Cells.inCells(probed)))
      Serve.topK(rows, rows.partitions.indices, k)(
        IVFFlat.scoreCells(Array(query), Array(probed), centroids.length))
    }

    /** Batch search. A warm model ([[warm]]) collects the batch under
      * the serving budget ([[Batches]], `graft.serving.maxBatch`; the
      * cold plan broadcasts its probe frame, so the batch is
      * broadcast-sized either way), computes each query's probe cells
      * on the driver ([[probeSet]], the order the cold plan computes per
      * task), and scores its resident packed rows in one RDD job
      * ([[Serve.topKMany]]): a row is scored only against the queries
      * that probe its cell, each task ships ≤ k rows per query, and the
      * driver merges them — no shuffle and no per-call plan. A cold
      * model, or a batch whose qids repeat, assigns each query its probe
      * clusters (broadcast centroids, narrow), equi-joins on `cluster`
      * against the cell-pruned indexed corpus ([[Cells.pruned]] —
      * shuffles only probed candidates, never the full corpus), exact
      * distance codegen-narrow, per-query top-k ([[TopK.perQuery]]). Both
      * return the same rows under the same schema. k = 0 returns no rows
      * and runs no job; a null query vector fails naming the qid. */
    def searchMany(queries: DataFrame, qIdCol: String, qVecCol: String,
                   k: Int, nprobe: Int = 2): DataFrame =
      if (k == 0) Serve.noRows
      else serving.get.map(_ -> Serve.batch(queries, qIdCol,
          col(qVecCol).cast("array<float>"), "IVFFlat")) match {
        case Some((rows, batch)) if Serve.distinct(batch.map(_._1)) =>
          Serve.topKMany(rows, rows.partitions.indices, k, batch.map(_._1))(
            IVFFlat.scoreCells(batch.map(_._2), batch.map(q => probeSet(q._2, k, nprobe)),
              centroids.length))
        case _ =>
          TopK.perQuery(
            Cells.pruned(indexed, probes(queries, qIdCol, qVecCol, k, nprobe),
                centroids.length)
              .select(col("qid"), col("id"),
                sqDist(col("vector"), col("qvec")).as("distance")),
            k)
      }

    /** Radius (range) search on the index tier — the FAISS
      * IndexIVF.range_search counterpart: probe each query's `nprobe`
      * nearest cells and return EVERY probed point within `radius`
      * (inclusive, matching [[graft.operators.Exhaustive.rangeSearch]]).
      * Approximate exactly like probed top-k (points outside probed
      * cells are unseen); nprobe = number of cells reproduces the
      * exhaustive radius oracle bit-for-bit (ivf_range_all lane).
      * There is no top-k aggregation at all: the radius filter runs
      * inside the scan stage, so the only rows that move ARE results
      * — result size is data-dependent, write it out at scale. */
    def rangeSearchMany(queries: DataFrame, qIdCol: String, qVecCol: String,
                        radius: Double, nprobe: Int = 2): DataFrame =
      Cells.pruned(indexed, probes(queries, qIdCol, qVecCol, 1, nprobe),
          centroids.length)
        .select(col("qid"), col("id"),
          sqDist(col("vector"), col("qvec")).as("distance"))
        .filter(col("distance") <= lit(radius))

    /** Corpus-scale batch kNN — [[searchMany]]'s shuffle-path twin for
      * query sides too big to broadcast (the kNN-GRAPH primitive:
      * `knnJoin(indexed corpus itself)` gives every document its k
      * approximate nearest neighbours, the input of SemDeDup-style
      * semantic curation and graph clustering). Same probe semantics
      * (adaptive order, first `nprobe` cells per query), different
      * movement plan:
      *
      *  - probes explode to (qid, qvec, cluster) and equi-JOIN on
      *    `cluster` — a shuffle join, NOT a broadcast: each side moves
      *    once, ≤ nprobe copies of the query side, never queries ×
      *    corpus. With the corpus persisted partitioned by `cluster`
      *    (the [[save]] layout) only the probe side actually moves.
      *  - distances are computed codegen-narrow on the join output,
      *    then each task cuts to k per query with bounded heaps BEFORE
      *    the per-qid merge shuffle, which therefore carries ≤
      *    (tasks × k) 24-byte triples per query — the
      *    [[graft.operators.Exhaustive.knnJoin]] partial-then-merge
      *    shape without its broadcast requirement.
      *
      * At nprobe = params.k this is the exact self-kNN join (every cell
      * probed), which is the driver-oracle face (`ivf_knn_join_all`);
      * the probed configuration is gated by `ivf_knn_join_fixed`.
      *
      * The per-query cut is [[graft.functions.TopKAggExpr]] — partial
      * aggregation holds one O(k) primitive heap per query INSIDE the
      * join stage, so candidate rows never cross a typed-Dataset
      * boundary (2.1× on a 380M-candidate probe, KnnProbe).
      *
      * nprobe is the recall/cost lever, measured at 1M/512 cells
      * (BASELINE r9): nprobe 2 → recall@10 0.803 (354 s / 1.8 GB
      * shuffle), 4 → 0.977 (565 s / 2.9 GB), 8 → 1.000 (1,244 s /
      * 5.1 GB) — wall and shuffle scale ~linearly in nprobe. FOR
      * GRAPH-BUILD CONSUMERS (mutual-kNN clustering, hard-negative
      * mining, SemDeDup feeds) use nprobe = 4: consumers inherit
      * whatever the graph missed, and 0.80 leaves a fifth of true
      * edges absent. The parameter default stays 2 (the cheap
      * exploratory setting the pinned lanes gate).
      *
      * A query side under the shared driver gate ([[DriverGate]], the
      * rule [[build]] applies to its input) is routed on the driver
      * instead: one job collects at most [[DriverGate.maxRows]] queries
      * ([[DriverGate.collect]]), [[probeSet]]'s order picks each one's
      * cells, and one job runs the searches' scan over `indexed` packed
      * for the call (a warm model's resident copy), scoring each row
      * against the queries that probe its cell and shipping a top-k per
      * query to the driver ([[Serve.topKMany]], the warm batch
      * search's merge). Same rows
      * as the plan above, no shuffle, and no generated code past the
      * two scans, so a pass over many operators keeps fewer classes in
      * Spark's codegen cache (100 classes; when one of its segments
      * overflows, every pass recompiles that segment's classes). A
      * batch with a null qid, a null or wrong-dimension vector, a
      * repeated qid or k outside [[graft.functions.TopKAggExpr]]'s
      * range takes the plan, which merges or refuses them as before. */
    def knnJoin(queries: DataFrame, qIdCol: String, qVecCol: String,
                k: Int, nprobe: Int = 2): DataFrame =
      routedJoin(queries, qIdCol, qVecCol, k, nprobe).getOrElse(
        TopK.perQuery(
          indexed.join(probes(queries, qIdCol, qVecCol, k, nprobe), Seq("cluster"))
            .select(col("qid"), col("id"),
              sqDist(col("vector"), col("qvec")).as("distance")),
          k))

    /** [[knnJoin]]'s driver-routed finish; None takes the plan. */
    private def routedJoin(queries: DataFrame, qIdCol: String, qVecCol: String,
                           k: Int, nprobe: Int): Option[DataFrame] = {
      if (k < 1 || k > (1 << 20)) return None
      val batch = DriverGate.collect(queries.select(
          col(qIdCol).cast("long"), col(qVecCol).cast("array<float>")))
        .getOrElse(return None)
      val dim = centroids(0).length
      if (batch.exists { case (id, v) => id == null || v == null || v.length != dim })
        return None
      val qids = batch.map(_._1.longValue)
      if (!Serve.distinct(qids)) return None
      val qs = batch.map(_._2)
      val rows = packed(indexed)
      Some(Serve.topKMany(rows, rows.partitions.indices, k, qids)(IVFFlat.scoreCells(
        qs, qs.map(probeSet(_, k, nprobe)), centroids.length)))
    }

    /** Incremental add: assign against frozen centroids, union. Caller ids
      * are honoured (fix of the ivfflat.rs:209 id-shadowing quirk).
      * Repeated adds compact their union lineage — see [[Lineage]]. */
    def add(rows: DataFrame, idCol: String, vecCol: String): Model = {
      val (df, n) = Lineage.compact(
        indexed.unionByName(assign(rows, idCol, vecCol, centroids)),
        addsSinceCompact)
      copy(indexed = df, addsSinceCompact = n)
    }

    /** Takedown — remove rows by id (right-to-be-forgotten / licensing
      * removals, the pipeline mutation the reference never needed).
      * Anti-join on id; the ids frame is takedown-sized, so it
      * broadcasts and the corpus never shuffles. clusterSizes stay
      * frozen like add's, but the drift direction FLIPS: post-remove
      * stale sizes OVERestimate cell populations, so [[probeOrder]]'s
      * cumulative-k budget fills sooner and the adaptive probe set
      * NARROWS (recall-direction). Callers serving a heavily-trimmed
      * tier should pass an explicit nprobe/minProbe or [[rebalance]].
      * Repeated removes compact lineage on the shared cadence. */
    def remove(ids: DataFrame, idCol: String): Model = {
      val (df, n) = Lineage.without(indexed, ids, idCol, addsSinceCompact)
      copy(indexed = df, addsSinceCompact = n)
    }

    /** Merge another IVFFlat index into this one — cross-job/cross-day
      * compaction (two builds over disjoint corpus slices become one
      * servable index with no full rebuild). THIS model's centroids
      * survive. When the other model shares them bitwise, its rows
      * union in directly and per-cell sizes add (no job at all);
      * otherwise the other corpus re-assigns under the surviving
      * centroids — the same narrow broadcast-argmin pass add() runs —
      * and its per-cell counts are re-counted (one small aggregate over
      * the incoming rows only; the resident corpus is untouched).
      * Caller contract (as for add): id sets are disjoint. */
    def merge(other: Model): Model = {
      require(other.centroids(0).length == centroids(0).length,
        s"merge: dim mismatch (${centroids(0).length} vs ${other.centroids(0).length})")
      if (MergeOps.sameGrid(centroids, other.centroids)) {
        val (df, n) = Lineage.compact(
          indexed.unionByName(other.indexed), addsSinceCompact)
        copy(indexed = df,
          clusterSizes = MergeOps.satAdd(clusterSizes, other.clusterSizes),
          addsSinceCompact = n)
      } else {
        val reassigned = assign(other.indexed, "id", "vector", centroids)
        val extra = Cells.sizes(reassigned, clusterSizes.length)
        val (df, n) = Lineage.compact(
          indexed.unionByName(reassigned), addsSinceCompact)
        copy(indexed = df,
          clusterSizes = MergeOps.satAdd(clusterSizes, extra),
          addsSinceCompact = n)
      }
    }

    /** Grid-union merge — the metadata-only alternative to [[merge]]
      * when the two models trained DIFFERENT centroid grids: keep both
      * grids side by side (cells k..k+k₂−1 are the other model's,
      * renumbered in a narrow map over the incoming rows only), so each
      * half keeps being served by the grid that was trained FOR it —
      * no re-assignment pass, no recount job, and no quality loss from
      * forcing one grid onto the other's data. The price is a wider
      * probe fan-out: adaptive probing now widens across k₁+k₂ cells,
      * so per-query cost grows toward 2× at equal halves — the
      * trade to re-assigning [[merge]] is merge-time work vs
      * serving-time probes. Params keep the surviving model's training
      * config; `params.k` tracks the combined cell count. Disjoint-id
      * contract. */
    def mergeGridUnion(other: Model): Model = {
      require(other.centroids(0).length == centroids(0).length,
        s"mergeGridUnion: dim mismatch (${centroids(0).length} vs ${other.centroids(0).length})")
      val off = centroids.length
      val shifted = other.indexed
        .withColumn("cluster", (col("cluster") + lit(off)).cast("int"))
      val (df, n) = Lineage.compact(
        indexed.unionByName(shifted), addsSinceCompact)
      copy(params = params.copy(k = off + other.centroids.length),
        centroids = centroids ++ other.centroids,
        clusterSizes = clusterSizes ++ other.clusterSizes,
        indexed = df, addsSinceCompact = n)
    }

    /** Warm-start re-clustering — the rebalancing job the add/remove
      * scaladocs defer to: `iterations` Lloyd's steps starting FROM the
      * current centroids over the CURRENT rows (post-add/remove drift),
      * ending with a fresh assignment and TIGHT cluster sizes. Unlike
      * [[IVFFlat.build]] there are no restarts and no re-init — this is
      * drift repair, not re-training, so it costs `iterations + 1`
      * corpus passes exactly. `indexed` is already the assignment under
      * the current centroids (add assigns on ingest, remove only
      * deletes), so the loop starts at the update step. Float-mean
      * centroid math is the production [[updateCentroids]]; the
      * remove→step→reassign composition is driver-oracle-gated via the
      * quantized-mean twin (ivf_rebalance_fixed). */
    def rebalance(iterations: Int = 1): Model = {
      require(iterations > 0, s"rebalance: iterations must be positive")
      val dim = centroids(0).length
      var cents = centroids
      var df = indexed
      var prevCkpt: org.apache.spark.sql.DataFrame = null
      for (_ <- 0 until iterations) {
        cents = updateCentroids(df, params.k, dim)
        // materialize each reassignment: left lazy, the growing
        // assign(assign(…)) chain re-executes inside the NEXT
        // update pass, the sizes count AND every serve-time scan of
        // the returned model — the checkpoint makes the op cost its
        // documented iterations+1 corpus passes exactly, each over
        // O(1)-deep blocks (same values — assign is deterministic
        // per-row math; the quantized-mean twin still gates it)
        df = assign(df, "id", "vector", cents).localCheckpoint(true)
        // the PREVIOUS iteration's blocks are dead once the new
        // checkpoint exists — release them instead of holding up to
        // iterations× corpus copies until the ContextCleaner GCs
        if (prevCkpt != null) graft.index.Residency.cool(prevCkpt)
        prevCkpt = df
      }
      Model(params, cents, Cells.sizes(df, params.k), df)
    }

    /** Hot-cell splitting — the serve-side skew lever. Real token/
      * embedding distributions are Zipfian, and a coarse cell that
      * captured a head mode can hold 10–100× the mean cell population:
      * every query whose probe order reaches that cell then scans ALL
      * of it, so probed volume (the serving wall's currency) is
      * dominated by the hot cell no matter how small nprobe is. Unlike
      * the routed-HNSW id-hash subshards (HNSW.buildRouted — a BUILD
      * straggler fix: routing still probes all subshards together),
      * this splits hot cells GEOMETRICALLY: each cell with more than
      * `maxCellFactor` × mean rows re-clusters into ceil(size/cap)
      * sub-centroids via Lloyd's WITHIN the cell, and the sub-cells
      * join the grid as first-class cells — probe order then descends
      * into the fraction of the old hot cell nearest the query, so
      * probed volume at equal nprobe drops toward cap.
      *
      * Scale shape: all hot cells iterate TOGETHER — per Lloyd's step
      * one narrow pass over hot-cell rows only (argmin over the row's
      * OWN cell's broadcast sub-centroids) plus one small per-(cell,
      * sub) mean aggregate (Σ splits rows collected, never corpus);
      * init is a seeded id-hash row sample per hot cell; the final
      * renumber is one narrow map over the corpus; sizes recount once.
      * Cold cells keep their centroid bitwise (renumbered only). An
      * empty sub-cell keeps its previous position (the PQ empty rule —
      * a zeroed centroid would hijack probe order). Semantics: the
      * result is a plain [[Model]] over the same rows — probe-all
      * search is IDENTICAL to the unsplit index (spec-gated), smaller
      * nprobe trades recall exactly as on any grid.
      *
      * Limitation (by design): a hot cell of (near-)IDENTICAL vectors
      * — duplicate mass — cannot be split geometrically: its
      * sub-centroids converge to the same point and one Voronoi cell
      * keeps everything. That corpus shape is a dedup problem, not a
      * grid problem — run the dedup operators ([[graft.operators
      * .Dedup]]) upstream; splitting here targets dense-but-continuous
      * Zipf head modes, which real token/embedding distributions are. */
    def splitCells(maxCellFactor: Double = 2.0, iterations: Int = 4): Model = {
      require(maxCellFactor > 0.0,
        s"splitCells: maxCellFactor=$maxCellFactor must be > 0")
      require(iterations >= 1, "splitCells: iterations must be >= 1")
      val k0 = centroids.length
      val total = clusterSizes.sum
      val cap = math.max(1L,
        math.ceil(maxCellFactor * total.toDouble / k0).toLong)
      val splits = Array.tabulate(k0)(c =>
        math.max(1L, math.ceil(clusterSizes(c).toDouble / cap).toLong).toInt)
      if (splits.forall(_ == 1)) return this
      val offsets = splits.scanLeft(0)(_ + _)
      val hot = splits.indices.filter(splits(_) > 1).toSet
      val spark = indexed.sparkSession
      import spark.implicits._
      val dim = centroids(0).length
      // seeded id-hash init: the splits(c) sample rows of each hot cell
      // (serving-sized collect — Σ splits rows, never the corpus)
      val hotRows = indexed
        .filter(Cells.inCells(hot.toSeq))
      val initRows = hotRows
        .withColumn("_rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("cluster"))
            .orderBy(xxhash64(col("id"), lit(params.seed)), col("id"))))
        .filter(col("_rk") <= element_at(
          typedlit(splits.toSeq), col("cluster") + 1))
        .select(col("cluster"), col("_rk"), col("vector"))
        .as[(Int, Int, Array[Float])].collect()
      var sub: Map[Int, Array[Array[Float]]] = hot.iterator.map { c =>
        val rows = initRows.filter(_._1 == c).sortBy(_._2).map(_._3)
        c -> Array.tabulate(splits(c))(j => rows(j % rows.length))
      }.toMap
      // Lloyd's over all hot cells at once: per-row argmin over the
      // row's own cell's sub-centroids, then per-(cell, sub) means
      val meanAgg = new graft.operators.VectorMean(dim).toColumn
      for (_ <- 0 until iterations) {
        val bcSub = spark.sparkContext.broadcast(sub)
        val means = hotRows
          .select(col("cluster").cast("int"), col("vector").cast("array<float>"))
          .as[(Int, Array[Float])]
          .map { case (c, v) => ((c, nearest(bcSub.value(c), v)), v) }
          .groupByKey(_._1).mapValues(_._2)
          .agg(meanAgg.name("mean"))
          .collect().toMap
        sub = sub.map { case (c, cents) =>
          c -> Array.tabulate(cents.length)(j =>
            means.getOrElse((c, j), cents(j))) // empty sub-cell: keep
        }
      }
      val newCents = new Array[Array[Float]](offsets.last)
      for (c <- 0 until k0) {
        if (hot(c)) {
          val cents = sub(c)
          var j = 0
          while (j < cents.length) { newCents(offsets(c) + j) = cents(j); j += 1 }
        } else newCents(offsets(c)) = centroids(c)
      }
      // final renumber: one narrow map (cold rows shift, hot rows argmin
      // into their cell's sub-centroids)
      val bcSub = spark.sparkContext.broadcast(sub)
      val bcOff = spark.sparkContext.broadcast(offsets)
      val newIndexed = indexed
        .select(col("id").cast("long"), col("vector").cast("array<float>"),
          col("cluster").cast("int"))
        .as[(Long, Array[Float], Int)]
        .map { case (id, v, c) =>
          val off = bcOff.value(c)
          val cents = bcSub.value.getOrElse(c, null)
          (id, v, if (cents == null) off else off + nearest(cents, v))
        }
        .toDF("id", "vector", "cluster")
      Model(params.copy(k = offsets.last), newCents,
        Cells.sizes(newIndexed, offsets.last), newIndexed)
    }

    /** Persist: corpus partitioned by cluster (→ partition pruning on
      * probe), centroids as parquet, params as JSON (SURVEY §2.2 mapping
      * of base.rs:31-58). */
    def save(dir: String): Unit = {
      val spark = indexed.sparkSession
      // disjoint files — overlap the corpus write with the 1-task
      // centroid sidecar write (guide §2.6, Overlap scaladoc)
      Overlap.par2(
        indexed.write.mode("overwrite").partitionBy("cluster")
          .parquet(s"$dir/indexed"),
        Cells.saveCentroids(spark, dir, centroids))
      ParamsIO.write(spark, dir,
        s"""{"k":${params.k},"numAttempts":${params.numAttempts},"maxIterations":${params.maxIterations},"seed":${params.seed},"tol":${params.tol},"sizes":${ParamsIO.longsJson(clusterSizes)}}""")
    }

    /** Pre-pay serving residency ([[Residency.warm]]): persist the
      * indexed frame if nothing holds its blocks yet (a [[IVFFlat.load]]
      * tier scans parquet) and touch every block, so the FIRST query —
      * after a load, or after a big same-JVM scan spilled the blocks to
      * disk — serves at steady state instead of paying the ~3× re-warm
      * the 100M smokes measured. Then pack each partition of it into one
      * resident record ([[packCells]], no shuffle) that [[search]]
      * serves from. Idempotent; returns this model. */
    def warm(): Model = { Residency.warm(indexed); serving.warm(); this }

    /** Release the packed serving rows and the indexed frame's storage
      * ([[Residency.cool]] — the caveats there: a cache-backed frame
      * recomputes on next use, a checkpoint-backed one is dead after
      * cooling). Launches no job. */
    def cool(): Unit = { serving.cool(); Residency.cool(indexed) }
  }

  /** Shared adaptive probe-widening (single-query and batch paths MUST
    * agree — ivfflat.rs:168-195 semantics, saturating subtraction). */
  private[graft] def probeOrder(cents: Array[Array[Float]], sizes: Array[Long],
                                q: Array[Float], k: Int, minProbe: Int): Seq[Int] = {
    val order = cents.indices.sortBy(c => sqDistLocal(cents(c), q))
    var need = k.toLong
    val out = Seq.newBuilder[Int]
    var taken = 0
    for (c <- order if need > 0 || taken < minProbe) {
      out += c; taken += 1
      need -= math.min(sizes(c), need) // saturate at 0: no underflow
    }
    out.result()
  }

  /** Up to [[Serve.Chunk]] rows of the indexed frame, packed for
    * serving: the cell, id and vector of each row, in row order. */
  private[graft] final case class CellRows(cells: Array[Int], ids: Array[Long],
                                           vecs: Array[Array[Float]])

  /** (cluster, id, vector) of `indexed`'s internal rows, read at the
    * ordinals of [[rowLayout]], packed into [[CellRows]] chunks — a
    * narrow map, never a shuffle. Rows with a null id, vector or cell
    * are dropped, as the plans' join and top-k drop them. */
  private def packCells(indexed: DataFrame): RDD[CellRows] = {
    val (rows, (idAt, vecAt, cellAt)) = rowLayout(indexed) match {
      case Some(at) => (indexed, at)
      case None => (indexed.select(col("id").cast("long"), col("vector").cast("array<float>"),
        col("cluster").cast("int")), (0, 1, 2))
    }
    rows.queryExecution.toRdd.mapPartitions { it =>
      it.collect { case r if !r.isNullAt(idAt) && !r.isNullAt(vecAt) && !r.isNullAt(cellAt) =>
        (r.getInt(cellAt), r.getLong(idAt), r.getArray(vecAt).toFloatArray())
      }.grouped(Serve.Chunk).map(g => CellRows(g.map(_._1).toArray, g.map(_._2).toArray,
        g.map(_._3).toArray))
    }
  }

  /** The scan shared by single search, batch search and the routed
    * [[Model.knnJoin]]: each packed row is scored exactly
    * ([[Serve.sqDist]]) against every query that probes its cell
    * (`probed(q)` are query q's cells). */
  private def scoreCells(qs: Array[Array[Float]], probed: Array[Seq[Int]],
                         numCells: Int): Serve.Score[CellRows] = {
    val queriesOf = queriesByCell(probed, numCells)
    (it, bufs) => it.foreach { p =>
      var i = 0
      while (i < p.ids.length) {
        val c = p.cells(i)
        val mine = if (c >= 0 && c < queriesOf.length) queriesOf(c) else Array.emptyIntArray
        var j = 0
        while (j < mine.length) {
          bufs(mine(j)).insert(Serve.sqDist(p.vecs(i), qs(mine(j))), p.ids(i))
          j += 1
        }
        i += 1
      }
    }
  }

  /** For each cell, the queries (batch positions) that probe it. */
  private def queriesByCell(probed: Array[Seq[Int]], numCells: Int): Array[Array[Int]] = {
    val byCell = Array.fill(numCells)(Array.newBuilder[Int])
    for (q <- probed.indices; c <- probed(q)) byCell(c) += q
    byCell.map(_.result())
  }

  private[graft] def sqDistLocal(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
    s
  }

  /** Narrow per-row argmin over broadcast centroids (ivfflat.rs:29-46). */
  def assign(emb: DataFrame, idCol: String, vecCol: String,
             centroids: Array[Array[Float]]): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centroids)
    emb.select(col(idCol).cast("long").as("id"),
               col(vecCol).cast("array<float>").as("vector"))
      .as[(Long, Array[Float])]
      .map { case (id, v) => (id, v, nearest(bc.value, v)) }
      .toDF("id", "vector", "cluster")
  }

  /** Multi-assignment for boundary vectors — the SemDeDup
    * cell-boundary repair (VERDICT r8 #3): a vector whose
    * second-nearest cell is within the margin (d₂ ≤ marginSq·d₁ on
    * squared distances, i.e. distance ratio ≤ √marginSq) is assigned
    * to BOTH cells, so an ε-duplicate pair straddling a k-means cell
    * boundary still shares a cell in the pair scan. Emits one row per
    * assigned cell plus the row's full sorted cell-set `cells` — pair
    * generators emit each pair once via the first-shared-cell rule
    * (cluster == min(cells_a ∩ cells_b), the
    * [[graft.operators.RangeJoin]] proration idiom). marginSq = 1
    * degenerates to single assignment (ties only); pair-space cost
    * grows by the boundary fraction, never quadratically. Same narrow
    * broadcast-centroid shape as [[assign]]. */
  def assignMulti(emb: DataFrame, idCol: String, vecCol: String,
                  centroids: Array[Array[Float]],
                  marginSq: Double = 1.5): DataFrame = {
    require(marginSq >= 1.0, s"marginSq must be >= 1, got $marginSq")
    val spark = emb.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centroids)
    emb.select(col(idCol).cast("long").as("id"),
               col(vecCol).cast("array<float>").as("vector"))
      .as[(Long, Array[Float])]
      .flatMap { case (id, v) =>
        val cents = bc.value
        var best = 0; var bestD = Double.MaxValue
        var second = -1; var secondD = Double.MaxValue
        var c = 0
        while (c < cents.length) {
          val d = sqDistLocal(cents(c), v)
          if (d < bestD) {
            second = best; secondD = bestD
            best = c; bestD = d
          } else if (d < secondD) { second = c; secondD = d }
          c += 1
        }
        val cells =
          if (second >= 0 && secondD <= marginSq * bestD)
            Array(math.min(best, second), math.max(best, second))
          else Array(best)
        cells.map(cell => (id, v, cell, cells))
      }
      .toDF("id", "vector", "cluster", "cells")
  }

  /** One Lloyd's update step: per-cluster elementwise mean with the
    * reference's empty-cluster→zero-vector rule (ivfflat.rs:47-71),
    * via the [[graft.operators.VectorMean]] aggregator (map-side
    * partial sums). The production build runs its own iterations (on
    * the driver or in MLlib, [[build]]); this exposes the primitive. */
  def updateCentroids(indexed: DataFrame, k: Int, dim: Int): Array[Array[Float]] = {
    val spark = indexed.sparkSession
    import spark.implicits._
    val agg = new graft.operators.VectorMean(dim).toColumn
    val means = indexed.select(col("cluster").cast("int"), col("vector").cast("array<float>"))
      .as[(Int, Array[Float])]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(agg.name("mean"))
      .collect().toMap
    Array.tabulate(k)(c => means.getOrElse(c, new Array[Float](dim)))
  }

  /** Build: k-means cells, the reference's restart-keep-best loop
    * (ivfflat.rs:102-136: `numAttempts` runs seeded `seed + attempt`,
    * the lowest-cost run kept), then the narrow [[assign]] as `indexed`,
    * cached. tol=0 ≈ the bitwise-convergence rule (ivfflat.rs:84-95).
    *
    * Two paths, chosen by the input's size ([[DriverGate.bytesOf]]: the
    * plan's size estimate, or the stored bytes of a checkpointed or
    * filled RDD frame; no job) through the shared gate ([[DriverGate]]:
    * within `spark.sql.autoBroadcastJoinThreshold` and
    * [[DriverGate.maxBytes]]):
    *  - DRIVER: one job collects at most [[DriverGate.maxRows]] + 1 (id,
    *    vector) rows (more falls back to MLlib), sorts them by id, and
    *    runs k-means++ seeding and Lloyd's in double on the driver
    *    ([[kMeansOnDriver]]); `clusterSizes` come from [[assign]]'s own
    *    argmin over the same rows, so they equal the indexed frame's
    *    counts without a job, and `indexed` fills its cache on first
    *    use. The centroids depend only on the rows, not on their
    *    partitioning, and repeat bit for bit.
    *  - DISTRIBUTED: MLlib `KMeans` (k-means|| init) over a cached
    *    feature frame, then one count job for `clusterSizes`. An input
    *    of unknown size (a frame built from an RDD that is not stored,
    *    or a lazy checkpoint) always takes it.
    * The two paths train different centroids from the same rows:
    * k-means++ is the sequential form of k-means||, and an empty cell
    * keeps its previous centre on both. Both keep fewer than `k`
    * centroids when the rows hold fewer distinct vectors, and both
    * refuse an empty input and a null, non-finite or wrong-dimension
    * vector with an IllegalArgumentException naming the lowest such id
    * ([[DriverGate.invalidRow]]; the distributed path names it once
    * MLlib fails). */
  def build(emb: DataFrame, idCol: String, vecCol: String,
            params: Params): Model = {
    val rows = emb.select(
      col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<float>").as("vector"))
    driverRows(rows) match {
      case Some((ids, vecs)) =>
        DriverGate.invalidRow("IVFFlat.build", noRows, ids, vecs)
          .foreach(m => throw new IllegalArgumentException(m))
        val centroids = kMeansOnDriver(vecs, params)
        val sizes = new Array[Long](params.k)
        vecs.foreach(v => sizes(nearest(centroids, v)) += 1)
        val indexed = assign(rows, "id", "vector", centroids).cache()
        // planning the cached scan registers its storage, as the MLlib
        // path's filled cache is, without a job; it fills on first use
        indexed.queryExecution.toRdd
        Model(params, centroids, sizes, indexed)
      case None => buildDistributed(rows, params)
    }
  }

  /** (ids, vectors) sorted by id (ties by vector), when
    * [[DriverGate.collect]] takes the rows. */
  private def driverRows(rows: DataFrame): Option[(Array[Long], Array[Array[Float]])] =
    DriverGate.collect(rows).map { got =>
      val all = got.sortWith { (a, b) =>
        val c = java.lang.Long.compare(a._1, b._1)
        if (c != 0) c < 0 else java.util.Arrays.compare(a._2, b._2) < 0
      }
      (all.map(_._1.longValue), all.map(_._2))
    }

  /** Ordinals of (id, vector, cluster) in `indexed`'s internal rows,
    * when they are (long, array<float>, int) as [[assign]] writes them;
    * None for any other layout, which [[packCells]] casts to this one. */
  private def rowLayout(indexed: DataFrame): Option[(Int, Int, Int)] = {
    val f = indexed.schema.fields
    def at(name: String, t: DataType): Option[Int] =
      Some(f.indexWhere(_.name == name)).filter(i => i >= 0 && f(i).dataType == t)
    for (i <- at("id", LongType); v <- at("vector", ArrayType(FloatType, true))
           .orElse(at("vector", ArrayType(FloatType, false)));
         c <- at("cluster", IntegerType)) yield (i, v, c)
  }

  private val noRows = "IVFFlat.build has no rows to cluster"

  /** MLlib KMeans with the restart-keep-best loop. When the build fails,
    * the input is checked for what [[DriverGate.invalidRow]] refuses
    * (failure path only: two small jobs), so a bad row fails naming its
    * id as it does on the driver path. */
  private def buildDistributed(rows: DataFrame, params: Params): Model = {
    val feats = rows
      .withColumn("features",
        array_to_vector(col("vector").cast("array<double>")))
    try {
      // inside the try: over a local relation the optimizer evaluates
      // the features when the cache is planned
      feats.cache()
      var best: KMeansModel = null
      var bestCost = Double.MaxValue
      for (attempt <- 0 until params.numAttempts) {
        val km = new KMeans()
          .setK(params.k).setMaxIter(params.maxIterations)
          .setTol(params.tol).setSeed(params.seed + attempt)
          .setFeaturesCol("features")
        val m = km.fit(feats)
        val cost = m.summary.trainingCost
        if (cost < bestCost) { bestCost = cost; best = m }
      }
      val centroids = best.clusterCenters.map(_.toArray.map(_.toFloat))
      val indexed = assign(feats.drop("features"), "id", "vector", centroids)
        .cache()
      Model(params, centroids, Cells.sizes(indexed, params.k), indexed)
    } catch {
      case e: Exception =>
        feats.unpersist() // the check must not read the failed cache
        DriverGate.invalidRowOf("IVFFlat.build", noRows, rows)
          .foreach(m => throw new IllegalArgumentException(m, e))
        throw e
    } finally feats.unpersist()
  }

  /** k-means over `pts` on the driver, in double: per attempt, k-means++
    * seeding from `seed + attempt` ([[seedPlusPlus]]), then Lloyd's
    * until every centre moves by at most `tol` or `maxIterations` steps
    * have run (MLlib's rule); an empty cell keeps its centre. The run
    * with the lowest cost (the last assignment's Σ squared distance, as
    * MLlib's `trainingCost`) wins, the earliest on a tie. */
  private def kMeansOnDriver(pts: Array[Array[Float]],
                             params: Params): Array[Array[Float]] = {
    val data = pts.map(_.map(_.toDouble))
    val dim = data(0).length
    var best: Array[Array[Double]] = null
    var bestCost = Double.PositiveInfinity
    for (attempt <- 0 until params.numAttempts) {
      val cents = seedPlusPlus(data, params.k, params.seed + attempt)
      val k = cents.length
      var cost = 0.0
      var iter = 0
      var converged = false
      while (iter < params.maxIterations && !converged) {
        val sums = Array.ofDim[Double](k, dim)
        val counts = new Array[Long](k)
        cost = 0.0
        for (p <- data) {
          var c = 0; var bc = 0; var bd = Double.PositiveInfinity
          while (c < k) { val d = sqDistD(cents(c), p); if (d < bd) { bd = d; bc = c }; c += 1 }
          cost += bd
          counts(bc) += 1
          val s = sums(bc); var j = 0
          while (j < dim) { s(j) += p(j); j += 1 }
        }
        converged = true
        for (c <- 0 until k if counts(c) > 0) {
          val next = sums(c).map(_ / counts(c))
          if (sqDistD(next, cents(c)) > params.tol * params.tol) converged = false
          cents(c) = next
        }
        iter += 1
      }
      if (best == null || cost < bestCost) { best = cents; bestCost = cost }
    }
    best.map(_.map(_.toFloat))
  }

  /** k-means++ seeding: a uniform first centre, then each next centre
    * drawn with probability ∝ its squared distance to the nearest
    * chosen one. Stops early once every point coincides with a centre,
    * so `k` above the number of distinct points yields one centre per
    * distinct point. */
  private def seedPlusPlus(data: Array[Array[Double]], k: Int,
                           seed: Long): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    val cents = scala.collection.mutable.ArrayBuffer(data(rnd.nextInt(data.length)))
    val d2 = data.map(sqDistD(_, cents(0)))
    var total = d2.sum
    while (cents.length < k && total > 0) {
      val r = rnd.nextDouble() * total
      var i = 0; var acc = 0.0; var pick = -1
      while (i < data.length && pick < 0) {
        acc += d2(i)
        if (acc > r && d2(i) > 0) pick = i
        i += 1
      }
      if (pick < 0) pick = d2.lastIndexWhere(_ > 0)
      val c = data(pick)
      cents += c
      i = 0
      while (i < data.length) { d2(i) = math.min(d2(i), sqDistD(data(i), c)); i += 1 }
      total = d2.sum
    }
    cents.map(_.clone).toArray
  }

  private def sqDistD(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** [[assign]]'s argmin: the first centroid at the least [[sqDistLocal]]. */
  private def nearest(cents: Array[Array[Float]], v: Array[Float]): Int = {
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < cents.length) {
      val d = sqDistLocal(cents(c), v)
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Reload a saved index (base.rs:45-58 mapping). */
  def load(spark: SparkSession, dir: String): Model = {
    val json = ParamsIO.read(spark, dir)
    def intOf(key: String): Long = ParamsIO.num(json, key)
    val params = Params(intOf("k").toInt, intOf("numAttempts").toInt,
      intOf("maxIterations").toInt, intOf("seed"),
      ParamsIO.dbl(json, "tol", 1e-6))
    val indexed = spark.read.parquet(s"$dir/indexed")
      .select(col("id"), col("vector"), col("cluster").cast("int").as("cluster"))
    Model(params, Cells.loadCentroids(spark, dir),
      Cells.sizesOr(json, params.k, indexed), indexed)
  }
}
