package graft.index

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TopK
import graft.functions.VectorOps.{normalizeF, normalizeLocal}

/** Sharded HNSW as a Spark operator (SURVEY §2.6, §7 "hard parts").
  *
  * The reference builds ONE graph with strictly sequential inserts
  * (hnsw.rs:472-475) — inherently single-machine. The Spark-native design
  * that survives 100 TB is sharding: partition the corpus into P shards,
  * build an independent [[HNSWGraph]] per shard inside `mapPartitions`
  * (executor-local, all shards in parallel, zero driver state), and keep
  * the serialized subgraphs distributed as a Dataset of blobs. A query
  * fans out to every shard (queries are the SMALL side — broadcast),
  * beam-searches each subgraph locally, and the per-shard top-k unions
  * into a global top-k (same union-then-rerank shape as the reference's
  * multi-tree LSH search, lsh.rs:264-282). Recall matches a monolithic
  * graph searching with the same total ef because every shard is probed.
  *
  * All-shard fan-out makes per-query cost O(P × ef): it scales with the
  * corpus, not log of it — fine at hundreds of shards, the serving
  * bottleneck at thousands. The scale path is ROUTED sharding
  * ([[buildRouted]]): shards are k-means cells instead of id-hash
  * residues, the Model keeps one router centroid per shard, and
  * `searchMany(probeShards = s)` sends each query to its s nearest
  * cells only — the ivfflat.rs:153-170 cell-probing idea applied one
  * level up, per-query cost O(s × ef). Hash sharding + all-shard probe
  * stays the default (it is the correctness-maximal oracle config and
  * routing is meaningless for hash shards, whose contents all look like
  * the global distribution).
  *
  * Vectors are L2-normalized at ingest (the index's contract — the
  * reference's callers normalize on load, utils.rs:48,136), making
  * cosine distance = 1 − dot inside the graph valid.
  */
object HNSW {

  case class ShardBlob(shard: Int, blob: Array[Byte])

  /** `routers`: one centroid per ROUTED CELL (None on hash layouts).
    * `cellShards`: cell → its physical shard ids. A k-means cell larger
    * than the build's size cap is SPLIT into several physical shards
    * (id-hash within the cell) so no single shard's sequential insert
    * exceeds the cap — the router stays per-cell exact because a probed
    * cell always probes ALL its subshards. None ⇒ identity (cell i is
    * exactly shard i, the pre-split layout). `numShards` counts PHYSICAL
    * shards; `probeShards` in [[Model.searchMany]] counts CELLS. */
  case class Model(params: HNSWGraph.Params, numShards: Int,
                   shards: Dataset[ShardBlob],
                   routers: Option[Array[Array[Float]]] = None,
                   removed: Set[Long] = Set.empty,
                   cellShards: Option[Array[Array[Int]]] = None) {

    /** cell → physical shards, defaulting to the identity layout. */
    private def cellMap(cells: Int): Array[Array[Int]] =
      cellShards.getOrElse(Array.tabulate(cells)(Array(_)))

    /** The shard graphs decoded: one [[ShardGraph]] per blob, with the
      * count of its ids this model has removed. [[warm]] keeps it
      * resident (MEMORY_ONLY, deserialized objects), so a warm model's
      * searches traverse graphs decoded once instead of
      * Java-deserializing every blob per call, and count each shard's
      * tombstones once instead of per call (exact: `removed` is fixed
      * per Model, and [[remove]] returns a new, cold one); [[cool]]
      * releases it.
      * Searches only read the graphs (each `searchKnn` owns its visited
      * set and heaps), and [[add]], [[rebuild]] and [[save]] work on the
      * blobs, so a cached graph is never mutated. Per Model instance:
      * a model that `add`, `remove`, `merge` or `rebuild` returns is cold
      * until it is warmed. */
    @transient private[graft] lazy val graphs =
      new Serve.Resident(() => decoded(shards.rdd, removed))

    /** The graphs of the shards `keep` admits: the resident decoded copy
      * once [[warm]] has filled it, otherwise decoded from the blobs on
      * this call — after the shard test, so a cold routed search
      * decodes only the shards it probes. */
    private def graphsOf(keep: Int => Boolean): RDD[ShardGraph] =
      graphs.get match {
        case Some(g) => g.filter(s => keep(s.shard))
        case None => decoded(shards.rdd.filter(s => keep(s.shard)), removed)
      }

    /** Takedown — graph-index soft delete: removed ids stay in the
      * shard graphs as traversal waypoints but can never be RETURNED.
      * Each shard over-fetches k + |its own tombstones| candidates
      * (counted per shard when it is decoded — once at [[warm]] on a
      * warm model — so a shard holding no tombstoned ids pays nothing),
      * so among them at least k are live — filtered per-shard top-k is
      * exactly the search over corpus-minus-removed (the standard HNSW
      * soft-delete contract).
      * Scale envelope: the tombstone set is driver state sized to the
      * takedown workload (ids only), same budget class as a query
      * batch; per-shard search cost grows with that shard's tombstone
      * count until [[rebuild]] purges them. A later [[add]] of a
      * removed id resurfaces it (point-in-time semantics, matching the
      * other four index types' anti-join removes). */
    def remove(ids: DataFrame, idCol: String): Model = {
      val spark = ids.sparkSession
      import spark.implicits._
      val del = Batches.bounded(
        ids.select(col(idCol).cast("long")).as[Long], "HNSW.remove takedown")
      copy(removed = removed ++ del)
    }

    /** Hard removal — purge tombstones: rebuild ONLY the shards that
      * contain a tombstoned id (deserialize → keep live rows →
      * re-insert in ascending-id order, the build's determinism rule),
      * leaving every other shard's blob bit-untouched. The tombstone
      * set empties, so per-shard search over-fetch returns to k. Same
      * executor-local shape as the build: shards rebuild in parallel
      * where they live, nothing shuffles, the only driver traffic is
      * the broadcast id set. This is the periodic maintenance job that
      * bounds the soft-delete cost creep at serving scale. */
    def rebuild(): Model = {
      if (removed.isEmpty) return this
      val spark = shards.sparkSession
      import spark.implicits._
      val bcDead = spark.sparkContext.broadcast(removed)
      val p = params
      val purged = shards.map { s =>
        val dead = bcDead.value
        val g = deserialize(s.blob)
        if (!g.ids.exists(dead.contains)) s
        else {
          val live = g.ids.indices.iterator
            .filterNot(i => dead.contains(g.ids(i)))
            .map(i => (g.ids(i), g.vecs(i)))
            .toArray.sortBy(_._1)
          ShardBlob(s.shard, serialize(HNSWGraph.build(p, live.iterator)))
        }
      }
      copy(shards = purged.localCheckpoint(true), removed = Set.empty)
    }

    /** Batch top-k: collect the queries, search shards locally, cut the
      * global top-k per query. `probeShards = 0` (default) fans every
      * query out to every shard — exact same candidates as a
      * monolithic graph, the oracle config. With a
      * ROUTED model ([[buildRouted]]) and 0 < probeShards < numShards,
      * each query is sent only to its probeShards nearest router cells
      * (driver-side routing — the routers are driver state exactly like
      * IVF centroids), cutting per-query cost from O(P × ef) to
      * O(probeShards × ef).
      *
      * A warm model ([[warm]]) answers in one RDD job over its resident
      * decoded graphs ([[Serve.topKMany]]): each shard searches the
      * queries routed to it, ships ≤ k rows per query, and the driver
      * merges them — no shuffle and no per-call plan. A cold model, or a
      * batch whose qids repeat, broadcasts the queries and cuts with
      * [[TopK.perQuery]]. Both return the same rows under the same
      * schema. k = 0 returns no rows and runs no job; a null query
      * vector fails naming the qid.
      *
      * Scale envelope: the query batch is collected under the serving
      * budget ([[Batches]], `graft.serving.maxBatch`) — driver +
      * executor memory is O(nQueries × dim × 4B), i.e. ~0.5 GB
      * per million 128f queries. That is the right trade as long as the
      * query side is the SMALL side (the serving contract); for a
      * corpus-sized "query" set (join-all-against-all), don't use an
      * ANN serving index — use the bucketed dedup path
      * (Dedup.embeddingPairsViaLSH), which never materializes a side. */
    def searchMany(queries: DataFrame, qIdCol: String, qVecCol: String,
                   k: Int, probeShards: Int = 0): DataFrame = {
      if (k == 0) return Serve.noRows
      val spark = queries.sparkSession
      import spark.implicits._
      val qRows = Serve.batch(queries, qIdCol,
        normalizeF(col(qVecCol).cast("array<float>")), "HNSW")
      // qid → probed shard set, None = probe all (no routers, or the
      // caller asked for full fan-out). Router order by sqdist of the
      // normalized query ≡ cosine order on the unit sphere. probeShards
      // counts CELLS: a probed cell expands to all its physical
      // subshards, so cell-split layouts route bit-identically to the
      // unsplit layout (same rows probed, just across more graphs).
      val route: Option[Map[Long, Set[Int]]] =
        routers.filter(cents => probeShards > 0 && probeShards < cents.length)
          .map { cents =>
            val cm = cellMap(cents.length)
            qRows.map { case (qid, qv) =>
              qid -> cents.indices
                .sortBy(sh => IVFFlat.sqDistLocal(cents(sh), qv))
                .take(probeShards).iterator.flatMap(c => cm(c)).toSet
            }.toMap
          }
      val dead = removed // a local: closures must not capture the Model
      graphs.get match {
        case Some(g) if Serve.distinct(qRows.map(_._1)) =>
          // shard → the batch positions of the queries routed to it
          val routed = route.map(r =>
            qRows.indices.flatMap(q => r(qRows(q)._1).map(_ -> q))
              .groupMap(_._1)(_._2).map { case (sh, q) => sh -> q.toArray })
          Serve.topKMany(g, g.partitions.indices, k, qRows.map(_._1))(
            scoreShards(qRows.map(_._2), routed, dead, k))
        case _ =>
          val bcQ = spark.sparkContext.broadcast(qRows)
          val bcRoute = spark.sparkContext.broadcast(route)
          // each shard emits at most k (qid, id, distance) rows per query
          // it serves, and TopK.perQuery cuts them: shards partition the
          // corpus, so ids are unique per query. A shard with NO routed
          // query is filtered out before its graph is touched — on a
          // cold model it is never decoded, which is where routing pays
          // at scale: blob deserialization dominates the per-shard cost
          // (a 30k × 128f graph is ~16 MB), so small batches over
          // thousands of shards decode probeShards×batch graphs, not P.
          val probed = route.map(_.valuesIterator.flatten.toSet)
          TopK.perQuery(
            graphsOf(sh => probed.forall(_.contains(sh))).flatMap { s =>
              val r = bcRoute.value
              val knn = liveKnn(s, dead, k)
              bcQ.value.iterator
                .filter { case (qid, _) => r.forall(_(qid).contains(s.shard)) }
                .flatMap { case (qid, qv) =>
                  knn(qv).map { case (id, d) => (qid, id, d) }
                }
            }.toDF("qid", "id", "distance"),
            k)
      }
    }

    /** Single-query top-k in one RDD job with no exchange and no
      * Catalyst planning ([[Serve.topK]]): the query is normalized on the
      * driver ([[normalizeLocal]], bit-identical to the ingest's
      * `normalizeF`), every shard beam-searches its own graph with the
      * same tombstone over-fetch as [[searchMany]] into its task's top-k,
      * and the driver merges them in (distance, id) order. Shards
      * partition the corpus, so no id repeats across shards and no dedup
      * is needed: the rows equal the one-row `searchMany`'s. Routed
      * models fan out to every shard here (`probeShards = 0`). After
      * [[warm]] the shards search their resident decoded graphs, so the
      * call decodes nothing. The job runs inside the call; the returned
      * local frame collects without one. */
    def search(query: Array[Float], k: Int): DataFrame = {
      val g = graphsOf(_ => true)
      Serve.topK(g, g.partitions.indices, k)(
        scoreShards(Array(normalizeLocal(query)), None, removed, k))
    }

    /** Incremental add: route each new row to a shard (id hash — or its
      * nearest router cell on a routed model, matching the build-side
      * assignment), deserialize, insert (preserving per-shard sequential
      * semantics), re-serialize. Only touched shards rebuild their blob.
      *
      * Scale envelope: the add batch is collected and broadcast (same
      * O(batch × dim × 4B) driver budget as [[searchMany]]) — sized for
      * streaming micro-batches (Streaming.foldBatches), not bulk
      * loads. For a corpus-sized ingest, rebuild with [[HNSW.build]],
      * which routes rows to shards via a repartition, never the driver. */
    def add(rows: DataFrame, idCol: String, vecCol: String): Model = {
      val spark = rows.sparkSession
      import spark.implicits._
      val P = numShards
      val shardOf: (Long, Array[Float]) => Int = routers match {
        case Some(cents) =>
          val cm = cellMap(cents.length)
          (id, v) => {
            val c = cents.indices.minBy(sh => IVFFlat.sqDistLocal(cents(sh), v))
            val subs = cm(c) // same id-hash spread as the build assignment
            subs(math.floorMod(id, subs.length.toLong).toInt)
          }
        case None => (id, _) => math.floorMod(id, P.toLong).toInt
      }
      val newRows = Batches.bounded(rows
        .select(col(idCol).cast("long"),
          normalizeF(col(vecCol).cast("array<float>")))
        .as[(Long, Array[Float])], "HNSW.add ingest")
        .groupBy { case (id, v) => shardOf(id, v) }
      val bcNew = spark.sparkContext.broadcast(newRows)
      val updated = shards.map { s =>
        bcNew.value.get(s.shard) match {
          case None => s
          case Some(add) =>
            val g = deserialize(s.blob)
            add.foreach { case (id, v) => g.insert(id, v) }
            ShardBlob(s.shard, serialize(g))
        }
      }
      // EAGER localCheckpoint on every add, not the Lineage cadence the
      // union-style adds use, for two reasons: (1) an unmaterialized add
      // chain re-runs EVERY stacked deserialize+insert+serialize on
      // first touch — unlike a union of narrow encodes, each level here
      // is the full blob pass, so batch work should run exactly once,
      // when the batch arrives; (2) stacking one cache() per add nests
      // cached/adaptive plans one-in-another, and Spark's per-action
      // formatted-explain (SparkListenerSQLExecutionStart) walks both
      // the initial and final plan of every nested adaptive node — a
      // combinatorial blowup past ~20 stacked adds that freezes the
      // driver before memory is ever a problem (found by the 100-add
      // spec; the streaming twin is exactly that loop, utils.rs:126-137).
      // A re-added id sheds its tombstone — remove-then-add resurfaces
      // the row, consistent with the anti-join removes of the other
      // index types (a permanent tombstone would silently hide it).
      copy(shards = updated.localCheckpoint(true),
        removed = removed -- newRows.valuesIterator.flatten.map(_._1))
    }

    /** Merge another HNSW index into this one — shard union: the other
      * model's shards keep their graphs bit-untouched and are renumbered
      * past this model's range (no deserialization, no re-insert; the
      * cheapest possible compaction — sharding means a union of shard
      * sets IS a valid index). Search fans out across the combined
      * shards exactly as over a single build. Routed models merge their
      * router cells side by side (each query then probes its nearest
      * cells from EITHER half); a routed/unrouted mix falls back to
      * all-shard fan-out (routers dropped — correctness-maximal).
      * Tombstone sets union. Disjoint-id contract as for add. */
    def merge(other: Model): Model = {
      require(params == other.params,
        s"HNSW.merge: graph params differ ($params vs ${other.params})")
      val spark = shards.sparkSession
      import spark.implicits._
      val off = numShards
      val shifted = other.shards.map(s => ShardBlob(s.shard + off, s.blob))
      val (mergedRouters, mergedCells) = (routers, other.routers) match {
        case (Some(a), Some(b)) =>
          (Some(a ++ b),
            Some(cellMap(a.length) ++
              other.cellMap(b.length).map(_.map(_ + off))))
        case _ => (None, None)
      }
      copy(numShards = numShards + other.numShards,
        shards = shards.union(shifted),
        routers = mergedRouters,
        removed = removed ++ other.removed,
        cellShards = mergedCells)
    }

    def save(dir: String): Unit = {
      val spark = shards.sparkSession
      import spark.implicits._
      shards.toDF("shard", "blob").write.mode("overwrite").parquet(s"$dir/shards")
      routers.foreach { cents =>
        val cm = cellMap(cents.length)
        cents.zipWithIndex.map { case (v, i) => (i, v, cm(i).toSeq) }.toSeq
          .toDF("shard", "vector", "subshards")
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/routers")
      }
      if (removed.nonEmpty)
        removed.toSeq.sorted.toDF("id")
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/removed")
      val p = params
      ParamsIO.write(spark, dir,
        s"""{"numLayers":${p.numLayers},"efConstruction":${p.efConstruction},"efSearch":${p.efSearch},"m":${p.m},"seed":${p.seed},"numShards":$numShards,"routed":${if (routers.isDefined) 1 else 0},"tombstones":${if (removed.nonEmpty) 1 else 0}}""")
    }

    /** Pre-pay serving residency: the shard blobs ([[Residency.warm]] —
      * see [[IVFFlat.Model.warm]]) and the decoded graphs every search
      * then reads, filled by one pass. Idempotent. */
    def warm(): Model = {
      Residency.warm(shards)
      graphs.warm()
      this
    }

    /** Release the decoded graphs and the shard blobs' storage
      * ([[Residency.cool]]); searches decode per call again. Launches no
      * job. */
    def cool(): Unit = {
      graphs.cool()
      Residency.cool(shards)
    }
  }

  /** One decoded shard: its graph and how many of the graph's ids are
    * tombstoned (`dead`, counted once when the shard is decoded). */
  private[graft] final case class ShardGraph(shard: Int, graph: HNSWGraph, dead: Int)

  /** One shard's live top-k, the per-shard search shared by
    * [[Model.search]] and [[Model.searchMany]]. Soft-delete over-fetch
    * is bounded PER SHARD: only this shard's own tombstones can displace
    * live candidates here, so k + |dead ∩ shard| results hold ≥ k live
    * ids — a shard with no tombstoned ids pays no over-fetch at all. An
    * id re-added after its removal holds two nodes in its shard; only
    * the nearer one is emitted, so a shard never repeats an id. */
  private def liveKnn(s: ShardGraph, dead: Set[Long],
                      k: Int): Array[Float] => Iterator[(Long, Double)] =
    qv => s.graph.searchKnn(qv, k + s.dead).iterator
      .filterNot { case (id, _) => dead.contains(id) }
      .distinctBy(_._1)
      .take(k)

  /** The serving scan over decoded shards, shared by single and warm
    * batch search: each shard searches the queries routed to it
    * (`routed`: shard → batch positions; None = every query) with
    * [[liveKnn]], and a shard with no routed query is not touched. */
  private def scoreShards(qs: Array[Array[Float]], routed: Option[Map[Int, Array[Int]]],
                          dead: Set[Long], k: Int): Serve.Score[ShardGraph] = {
    val every = qs.indices.toArray
    (it, bufs) => it.foreach { s =>
      val mine = routed.fold(every)(_.getOrElse(s.shard, Array.emptyIntArray))
      if (mine.nonEmpty) {
        val knn = liveKnn(s, dead, k)
        mine.foreach(q => knn(qs(q)).foreach { case (id, d) => bufs(q).insert(d, id) })
      }
    }
  }

  /** Each shard blob decoded into its graph, with the count of its ids
    * in `removed` (one O(shard) pass, none when nothing is removed). */
  private def decoded(blobs: RDD[ShardBlob], removed: Set[Long]): RDD[ShardGraph] =
    blobs.map { s =>
      val g = deserialize(s.blob)
      ShardGraph(s.shard, g, if (removed.isEmpty) 0 else g.ids.count(removed.contains))
    }

  private[graft] def serialize(g: HNSWGraph): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val oos = new ObjectOutputStream(bos)
    oos.writeObject(g); oos.close()
    bos.toByteArray
  }

  private[graft] def deserialize(b: Array[Byte]): HNSWGraph =
    new ObjectInputStream(new ByteArrayInputStream(b))
      .readObject().asInstanceOf[HNSWGraph]

  /** Shared shard-graph builder: `rows` = (id, normalized vector,
    * shard); one graph per shard, built executor-local inside
    * `mapPartitions`, inserted in ascending-id order → deterministic.
    * Every shard 0..P-1 must own a blob, or Model.add would silently
    * drop rows routed to an absent shard (empty corpus slices are
    * legal). ONE job materializes the graphs and reports which shards
    * exist (no separate distinct() + count() passes); gaps get empty
    * graphs. */
  private def buildShards(rows: Dataset[(Long, Array[Float], Int)],
                          P: Int, params: HNSWGraph.Params): Dataset[ShardBlob] = {
    val spark = rows.sparkSession
    import spark.implicits._
    val built = rows.mapPartitions { it =>
      // a shard is a deliberately RAM-sized graph (the unit a single
      // executor core can beam-search), so materializing the partition's
      // rows to group them by shard is within the executor's budget
      it.toSeq.groupBy(_._3).iterator.map { case (shard, grp) =>
        val g = HNSWGraph.build(params,
          grp.iterator.map { case (id, v, _) => (id, v) })
        ShardBlob(shard, serialize(g))
      }
    }.cache()
    val present = built.map(_.shard).collect().toSet
    val gaps = (0 until P).filterNot(present)
      .map(sh => ShardBlob(sh, serialize(new HNSWGraph(params))))
    if (gaps.isEmpty) built
    else built.unionByName(spark.createDataset(gaps))
  }

  /** Build P independent shard graphs in parallel. Rows are routed to
    * shards by `hash(id) % P` (stable under reordering) and inserted in
    * ascending-id order within a shard → fully deterministic. */
  def build(emb: DataFrame, idCol: String, vecCol: String,
            params: HNSWGraph.Params, numShards: Int = 0): Model = {
    val spark = emb.sparkSession
    import spark.implicits._
    val P = if (numShards > 0) numShards
            else spark.sparkContext.defaultParallelism
    val rows = emb.select(
        col(idCol).cast("long").as("id"),
        normalizeF(col(vecCol).cast("array<float>")).as("vector"))
      .withColumn("shard", pmod(col("id"), lit(P)).cast("int"))
      .repartition(P, col("shard"))
      .sortWithinPartitions(col("shard"), col("id"))
      .as[(Long, Array[Float], Int)]
    Model(params, P, buildShards(rows, P, params))
  }

  /** ROUTED build — the serving shape that survives thousands of
    * shards: shards are k-means cells over the NORMALIZED vectors (one
    * coarse clustering job, [[IVFFlat.build]]), each cell's graph is
    * built executor-local, and the cell centroids ride in the Model as
    * the query router. `searchMany(probeShards = s)` then probes s
    * cells instead of all P. Routing quality is the k-means cells'
    * quality; all-shard fan-out (probeShards = 0) on a routed model
    * remains exactly as exhaustive-over-shards as the hash layout. */
  /** `maxCellFactor`: cap on any physical shard's size as a multiple of
    * the mean cell size. k-means cells are skewed on clustered data, and
    * each shard's graph is a strictly SEQUENTIAL insert loop — the
    * largest cell pins one core for the whole build wall (measured 5–6×
    * the hash layout at 1M before the cap, BASELINE.md r6). A cell of
    * n_c rows with n_c > cap splits into ceil(n_c / cap) subshards by
    * id-hash WITHIN the cell, so the longest sequential insert is
    * bounded and the build parallelizes across the split. Routing is
    * unchanged (per-cell, all subshards probed together); recall cost is
    * only the per-subshard graph being built from a cell sample rather
    * than the full cell. ≤ 0 disables splitting. */
  /** `routerSampleRows`: the router k-means trains on a deterministic
    * id-hash sample of about this many rows (full corpus when it is
    * smaller) and the full corpus is then assigned to the trained
    * centroids in ONE narrow pass — the standard IVF practice, and the
    * scale shape: Lloyd's over the full corpus for a handful of routing
    * cells was the dominant routed-build cost once the insert straggler
    * was capped (measured 1M: full-corpus router ≈ 2× the entire hash
    * build by itself). Routing quality is centroid quality, which
    * saturates long before 200k samples for P ≤ a few hundred cells.
    * ≤ 0 trains on the full corpus. */
  def buildRouted(emb: DataFrame, idCol: String, vecCol: String,
                  params: HNSWGraph.Params, numShards: Int,
                  routerIterations: Int = 10,
                  maxCellFactor: Double = 2.0,
                  routerSampleRows: Long = 200000L): Model = {
    val spark = emb.sparkSession
    import spark.implicits._
    val normed = emb.select(
      col(idCol).cast("long").as("id"),
      normalizeF(col(vecCol).cast("array<float>")).as("vector"))
    val n = normed.count()
    val train =
      if (routerSampleRows <= 0 || n <= routerSampleRows) normed
      else {
        // content-addressed sample (seeded id hash): repartition-stable,
        // no RNG — the same determinism rule as Splits.assign
        val num = math.max(1L, (routerSampleRows * 1000000L) / n)
        normed.filter(
          pmod(xxhash64(col("id"), lit(params.seed)), lit(1000000L)) < lit(num))
      }
    val router = IVFFlat.build(train, "id", "vector",
      IVFFlat.Params(k = numShards, numAttempts = 1,
        maxIterations = routerIterations, seed = params.seed))
    router.indexed.unpersist()
    // one narrow pass assigns the FULL corpus to the trained router; it
    // feeds the cell-size count AND the shard repartition below.
    // Deliberately NOT cached: the pass is a cheap broadcast-argmin map
    // (recomputing it twice beats holding ~corpus × (vector + cluster)
    // in storage memory next to the graph-build tasks — caching it
    // OOMed the 1M smoke's shared local JVM)
    val assigned = IVFFlat.assign(normed, "id", "vector", router.centroids)
    val counts = new Array[Long](numShards)
    assigned.groupBy("cluster").count().collect()
      .foreach(r => counts(r.getInt(0)) = r.getLong(1))
    val total = counts.sum
    val cap =
      if (maxCellFactor <= 0.0) Long.MaxValue
      else math.max(1L, math.ceil(maxCellFactor * total.toDouble / numShards).toLong)
    val splits = Array.tabulate(numShards)(c =>
      math.max(1L, math.ceil(counts(c).toDouble / cap).toLong).toInt)
    val offsets = splits.scanLeft(0)(_ + _) // offsets(c) = first shard of cell c
    val physical = offsets.last
    val cellShards = Array.tabulate(numShards)(c =>
      Array.range(offsets(c), offsets(c) + splits(c)))
    val shardCol =
      if (physical == numShards) col("cluster") // no cell was split
      else element_at(typedlit(offsets.toSeq), col("cluster") + 1) +
        pmod(col("id"), element_at(typedlit(splits.toSeq), col("cluster") + 1)
          .cast("long")).cast("int")
    val rows = assigned
      .select(col("id"), col("vector"), shardCol.cast("int").as("shard"))
      .repartition(physical, col("shard"))
      .sortWithinPartitions(col("shard"), col("id"))
      .as[(Long, Array[Float], Int)]
    val shards = buildShards(rows, physical, params)
    Model(params, physical, shards, routers = Some(router.centroids),
      cellShards = if (physical == numShards) None else Some(cellShards))
  }

  def load(spark: SparkSession, dir: String): Model = {
    import spark.implicits._
    val json = ParamsIO.read(spark, dir)
    def num(key: String): Long = ParamsIO.num(json, key)
    val params = HNSWGraph.Params(num("numLayers").toInt,
      num("efConstruction").toInt, num("efSearch").toInt,
      num("m").toInt, num("seed"))
    val shards = spark.read.parquet(s"$dir/shards")
      .select(col("shard").cast("int"), col("blob")).as[ShardBlob]
    // "routed" is absent from pre-router sidecars → 0 (hash layout);
    // "subshards" is absent from pre-cell-split sidecars → identity
    val (routers, cellShards) =
      if (ParamsIO.dbl(json, "routed", 0.0) == 1.0) {
        val df = spark.read.parquet(s"$dir/routers")
        val rows = df.orderBy("shard").collect()
        val cents = rows.map(_.getAs[scala.collection.Seq[Float]]("vector").toArray)
        val cm =
          if (df.columns.contains("subshards"))
            Some(rows.map(_.getAs[scala.collection.Seq[Int]]("subshards").toArray))
          else None
        (Some(cents), cm)
      } else (None, None)
    // "tombstones" is absent from pre-remove sidecars → 0 (no set)
    val removed =
      if (ParamsIO.dbl(json, "tombstones", 0.0) == 1.0)
        spark.read.parquet(s"$dir/removed")
          .collect().map(_.getLong(0)).toSet
      else Set.empty[Long]
    Model(params, num("numShards").toInt, shards.cache(), routers = routers,
      removed = removed, cellShards = cellShards)
  }
}
