package graft.index

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Rotate.mix64
import graft.functions.VectorOps._

/** Random-hyperplane forest — the Spark re-expression of
  * `vers/src/indexes/lsh.rs` (Annoy-style data-dependent bisector trees,
  * not classic hash-table LSH; see SURVEY §2.5).
  *
  * Build (lsh.rs:58-161), level-synchronous instead of recursive:
  *  - exact-dup elimination first (lsh.rs:113-130) via keep-first on the
  *    vector value;
  *  - the corpus carries ONE `paths` column (`numTrees` bucket-path
  *    strings per row) — never duplicated;
  *  - per level, TWO narrow steps regardless of tree count:
  *    (1) ONE partial-aggregate job: each partition folds its rows into
  *    per-(tree, node) {count, two min-hash samples} (the reference's
  *    unseeded `thread_rng` at lsh.rs:64 becomes min-mix64 — SURVEY §7
  *    determinism note); the driver merges partials. No explode, no
  *    window, no shuffle — per-level traffic is O(partitions × nodes),
  *    never O(rows), and vectors leave executors only as the ≤2 samples
  *    per node. (2) one `mapPartitions` pass appending the sign bit
  *    against the BROADCAST plane map (plane = perpendicular bisector
  *    through the midpoint, lsh.rs:72-80; sign test
  *    `coeffs·p + const ≥ 0`, lsh.rs:27-29). The sign fold is the same
  *    terms-from-0.0-const-last shape as [[pointIsAbove]]/driver descent,
  *    so all three agree bitwise. Per-node Catalyst case-chains or
  *    per-tree joins are NOT used — at moderate sizes janino/planning
  *    dominates them; a narrow JVM pass is both the fast and the
  *    100 TB-scalable shape (planes are tiny, rows never shuffle).
  *    The terminal level's aggregate doubles as the leaf-size table, so
  *    the whole build runs `levels + 1` jobs total.
  *  - a node whose split leaves one side empty (degenerate plane)
  *    re-samples next level with a level-salted hash; depth is capped.
  *
  * Search (lsh.rs:163-216, 264-282): descend each tree driver-side to the
  * query's leaf; the reference backtracks into siblings until n candidates
  * — we compute the equivalent closed-form: walk up from the leaf until
  * the subtree holds ≥ n rows, then take every leaf under that prefix.
  * Batch candidates = ONE equi-join of the (tree, path)-exploded corpus
  * against the broadcast probe set, union across trees implicit, dedup
  * by id (lsh.rs:266-272), exact re-rank, top-k. A single query skips
  * the join: one RDD job scores the rows of the union exactly and the
  * driver merges the per-task top-k, over the resident packed rows of a
  * warmed model or the corpus packed for the call. On a warmed model the
  * batch search is one such job too.
  */
object LSHForest {

  /** `dedupExact=false` skips the exact-duplicate-vector elimination
    * (lsh.rs:113-130) so the degenerate config (1 tree, unbounded leaf)
    * is unconditionally row-equal to exhaustive search — even when the
    * corpus contains duplicate vectors.
    *
    * `compactFactor`: [[Model.add]] self-compacts (runs
    * [[Model.rebuildLeaves]]) once any leaf outgrows compactFactor ×
    * maxNodeSize — the Spark-scale stand-in for the reference's eager
    * re-split on every insert (lsh.rs:218-251): tolerate bounded
    * overflow between adds, pay the split job only at the watermark.
    *
    * `probes`: leaves examined per tree per query (multi-probe). 1 =
    * the reference's shape (descend to one leaf, widen by backtracking
    * until k candidates, lsh.rs:196-213). probes > 1 additionally
    * descends the `probes` cheapest root-to-leaf paths ranked by the
    * summed perpendicular distance to every plane whose side the path
    * flips — the query-TIME recall lever (a near-boundary query probes
    * its boundary siblings directly instead of relying on more trees).
    * Search-only: build, add and persistence are probe-agnostic. */
  case class Params(numTrees: Int = 4, maxNodeSize: Int = 64,
                    maxDepth: Int = 24, seed: Long = 42L,
                    dedupExact: Boolean = true,
                    compactFactor: Int = 4,
                    probes: Int = 1)

  /** plane per inner node: path → (coeffs, constant); sizes per leaf.
    *
    * Driver-memory envelope: planes + leafSizes live on the driver and
    * broadcast to executors — ~n/maxNodeSize entries per tree, i.e.
    * ~100 B × numTrees × n/maxNodeSize. At 10⁹ rows × 8 trees ×
    * maxNodeSize 64 that is ~10⁸ entries (~10 GB) — size maxNodeSize
    * to the corpus (e.g. 4096 at 10⁹ rows keeps it ~2M entries/GB-ish);
    * the leaf CONTENTS always stay distributed, only the skeleton is
    * driver-held. Prefix queries (subtree size / leaf enumeration) run
    * on a sorted leaf array + size prefix-sums: '0'/'1' path strings
    * sharing a prefix are one contiguous sorted range, so each lookup is
    * O(log leaves + hits), never a scan of all leaves. */
  case class Tree(planes: Map[String, (Array[Double], Double)],
                  leafSizes: Map[String, Long]) {
    @transient private lazy val sortedPaths: Array[String] = {
      val a = leafSizes.keys.toArray
      java.util.Arrays.sort(a, Ordering.String)
      a
    }
    @transient private lazy val cumSizes: Array[Long] = {
      val c = new Array[Long](sortedPaths.length + 1)
      var i = 0
      while (i < sortedPaths.length) { c(i + 1) = c(i) + leafSizes(sortedPaths(i)); i += 1 }
      c
    }
    /** First index ≥ `key` in sortedPaths. */
    private def lowerBound(key: String): Int = {
      var lo = 0; var hi = sortedPaths.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (sortedPaths(mid) < key) lo = mid + 1 else hi = mid
      }
      lo
    }
    /** [lo, hi) range of leaves under `prefix` ('2' > '1' bounds the
      * binary-string subtree). */
    private def prefixRange(prefix: String): (Int, Int) =
      (lowerBound(prefix), lowerBound(prefix + "2"))
    def sizeUnder(prefix: String): Long = {
      val (lo, hi) = prefixRange(prefix)
      cumSizes(hi) - cumSizes(lo)
    }
    def leavesUnder(prefix: String): Seq[String] = {
      val (lo, hi) = prefixRange(prefix)
      sortedPaths.slice(lo, hi).toSeq
    }
  }

  /** Leaf path for one query in one tree (pure local descent). Static:
    * executor closures must reference these through a broadcast Tree,
    * never through a captured Model — an instance method drags the whole
    * forest skeleton (tens of MB at 1M rows) into every task binary. */
  private[graft] def leafPath(t: Tree, q: Array[Float]): String = {
    var path = ""
    while (t.planes.contains(path)) {
      val (coeffs, const) = t.planes(path)
      path += (if (signBit(coeffs, const, q)) "1" else "0")
    }
    path
  }

  /** Widen the leaf prefix until its subtree covers n rows
    * (the closed-form of the reference's sibling backtracking,
    * lsh.rs:196-213), then enumerate the exact leaves under it.
    * O(depth × log leaves) via the Tree's sorted-prefix structure. */
  private def candidateLeaves(t: Tree, leaf: String, n: Long): Seq[String] = {
    var prefix = leaf
    while (prefix.nonEmpty && t.sizeUnder(prefix) < n) prefix = prefix.dropRight(1)
    t.leavesUnder(prefix)
  }

  /** Multi-probe candidate set: the widened primary leaf (so the ≥ n
    * candidate guarantee of [[candidateLeaves]] is never weakened) plus
    * the remaining leaves of the `probes` cheapest root-to-leaf descents.
    * Cost of a descent = Σ |planeᵢ·q + cᵢ| / ‖planeᵢ‖ over the planes it
    * crosses to the far side — i.e. the total perpendicular distance the
    * query would have to move to land in that leaf naturally. Best-first
    * over partial paths: pop the cheapest, extend its preferred child at
    * equal cost and its flipped child at cost + distance; every pop is a
    * node visit, so one probe set costs O(probes × depth × dim) — pure
    * driver/executor-local math, no extra Spark jobs. probes == 1 takes
    * the exact single-descent fast path (bit-identical to the reference
    * shape; the degenerate-exact oracle lanes pin it). */
  private def probeLeaves(t: Tree, q: Array[Float], n: Long,
                          probes: Int): Seq[String] = {
    val widened = candidateLeaves(t, leafPath(t, q), n)
    if (probes <= 1 || t.planes.isEmpty) return widened
    // min-heap on cost; insertion order is deterministic, so equal-cost
    // pops are reproducible across runs
    val pq = scala.collection.mutable.PriorityQueue((0.0, ""))(
      Ordering.by[(Double, String), Double](_._1).reverse)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (pq.nonEmpty && out.size < probes) {
      val (cost, path) = pq.dequeue()
      t.planes.get(path) match {
        case None => out += path
        case Some((coeffs, const)) =>
          var s = 0.0; var nrm = 0.0; var i = 0
          while (i < coeffs.length) {
            s += coeffs(i) * q(i); nrm += coeffs(i) * coeffs(i); i += 1
          }
          s += const
          val d = if (nrm > 0.0) math.abs(s) / math.sqrt(nrm) else 0.0
          val bit = s >= 0
          pq.enqueue((cost, path + (if (bit) "1" else "0")))
          pq.enqueue((cost + d, path + (if (bit) "0" else "1")))
      }
    }
    (widened ++ out).distinct
  }

  case class Model(params: Params, trees: IndexedSeq[Tree],
                   indexed: DataFrame /* id, vector, paths: array<string> */,
                   addsSinceCompact: Int = 0) {

    /** Batch top-k. A warm model ([[warm]]) collects the batch under the
      * serving budget ([[Batches]], `graft.serving.maxBatch`; the cold
      * plan broadcasts its probe frame, so the batch is broadcast-sized
      * either way), runs each tree's [[probeLeaves]] per query on the
      * driver, and scores its resident packed rows in one RDD job
      * ([[Serve.topKMany]]): a row is scored once against each query
      * that probes its leaf in any tree — the cross-tree union the cold
      * plan's dedup forms — each task ships ≤ k rows per query, and the
      * driver merges them, with no shuffle and no per-call plan.
      *
      * A cold model, or a batch whose qids repeat: per query per tree,
      * probe leaves; ONE equi-join of the exploded corpus against the
      * broadcast probes; distances are computed codegen-narrow BEFORE
      * the only shuffle, which then moves 16-byte (qid, id, distance)
      * triples — never vectors; per-query top-k + cross-tree dedup by id
      * (lsh.rs:266-272 DashSet union) happen in one bounded-heap pass
      * per qid group (duplicates of an id carry bit-identical distances,
      * so heap-membership dedup is exact). One shuffle total vs
      * dropDuplicates + window's two. Both paths return the same rows
      * under the same schema. k = 0 returns no rows and runs no job; a
      * null query vector fails naming the qid. */
    def searchMany(queries: DataFrame, qIdCol: String, qVecCol: String,
                   k: Int): DataFrame =
      if (k == 0) Serve.noRows
      else serving.get.map(_ -> Serve.batch(queries, qIdCol,
          col(qVecCol).cast("array<float>"), "LSHForest")) match {
        case Some((rows, batch)) if Serve.distinct(batch.map(_._1)) =>
          Serve.topKMany(rows, rows.partitions.indices, k, batch.map(_._1))(
            LSHForest.scorePaths(batch.map(_._2),
              trees.map(t => batch.map(q => probeLeaves(t, q._2, k.toLong, params.probes)))))
        case _ => coldMany(queries, qIdCol, qVecCol, k)
      }

    private def coldMany(queries: DataFrame, qIdCol: String, qVecCol: String,
                         k: Int): DataFrame = {
      val spark = queries.sparkSession
      import spark.implicits._
      val bcTrees = spark.sparkContext.broadcast(trees)
      val nProbes = params.probes // local val: don't capture the Model
      val probes = queries
        .select(col(qIdCol).cast("long").as("qid"),
                col(qVecCol).cast("array<float>").as("qvec"))
        .as[(Long, Array[Float])]
        .flatMap { case (qid, qvec) =>
          Serve.requireVector("LSHForest", qid, qvec)
          bcTrees.value.iterator.zipWithIndex.flatMap { case (t, ti) =>
            probeLeaves(t, qvec, k.toLong, nProbes)
              .map(p => (qid, qvec, ti, p))
          }
        }
        .toDF("qid", "qvec", "tree", "path")
      val exploded = indexed.select(col("id"), col("vector"),
        posexplode(col("paths")).as(Seq("tree", "path")))
      exploded.join(broadcast(probes), Seq("tree", "path"))
        .select(col("qid"), col("id"),
          sqDist(col("vector"), col("qvec")).as("distance"))
        .as[(Long, Long, Double)]
        .groupByKey(_._1)
        .flatMapGroups { (qid, it) =>
          graft.operators.Exhaustive.topKDedup(it.map(t => (t._2, t._3)), k)
            .map { case (id, d) => (qid, id, d) }
        }
        .toDF("qid", "id", "distance")
    }

    /** The packed rows a warm model serves from ([[warm]], [[cool]]). */
    @transient private[graft] lazy val serving =
      new Serve.Resident(() => LSHForest.packPaths(indexed))

    /** Single-query top-k in one job with no exchange: each tree's
      * probed leaves are computed on the driver (the same
      * [[probeLeaves]] as [[searchMany]]), and the rows whose leaf is
      * probed in ANY tree — the cross-tree union, each id once, so no
      * dedup — are re-ranked exactly against the query in one RDD job
      * whose per-task top-k the driver merges ([[Serve.topK]]). A warm
      * model scans its resident packed rows, a cold one `indexed`
      * packed for this call. Same candidates and distances as the
      * one-row `searchMany`, so the same rows. */
    def search(query: Array[Float], k: Int): DataFrame = {
      val leaves = trees.map(t => probeLeaves(t, query, k.toLong, params.probes))
      val rows = serving.get.getOrElse(LSHForest.packPaths(indexed))
      Serve.topK(rows, rows.partitions.indices, k)(
        LSHForest.scorePaths(Array(query), leaves.map(Array(_))))
    }

    /** Incremental add: descend existing planes for each new row (planes
      * frozen). Deviation from lsh.rs:218-251 (eager leaf re-split): leaves
      * may temporarily exceed maxNodeSize; [[rebuildLeaves]] compacts them
      * — at Spark scale a periodic compaction job is the right maintenance
      * shape. Leaf-size bumps come from an aggregation job (one row per
      * touched (tree, leaf) reaches the driver) — the add batch itself
      * never does. */
    def add(rows: DataFrame, idCol: String, vecCol: String): Model = {
      val spark = rows.sparkSession
      import spark.implicits._
      val bcTrees = spark.sparkContext.broadcast(trees)
      val appended = rows
        .select(col(idCol).cast("long").as("id"),
                col(vecCol).cast("array<float>").as("vector"))
        .as[(Long, Array[Float])]
        .map { case (id, v) =>
          (id, v, bcTrees.value.map(t => leafPath(t, v)).toArray)
        }
        .toDF("id", "vector", "paths")
      val bump = appended
        .select(posexplode(col("paths")).as(Seq("tree", "path")))
        .groupBy(col("tree"), col("path")).count().collect()
        .map(r => ((r.getInt(0), r.getString(1)), r.getLong(2))).toMap
      val newTrees = trees.zipWithIndex.map { case (t, ti) =>
        val mine = bump.collect { case ((`ti`, p), n) => p -> n }
        t.copy(leafSizes = t.leafSizes ++ mine.map { case (p, n) =>
          p -> (t.leafSizes.getOrElse(p, 0L) + n) })
      }
      // union lineage compacts every CompactEvery adds (see Lineage) —
      // rebuildLeaves() also truncates it, but only fires on leaf
      // overflow, which the degenerate exact configs never reach
      val (df, nAdds) = Lineage.compact(indexed.unionByName(appended),
        addsSinceCompact)
      val updated = copy(trees = newTrees, indexed = df,
        addsSinceCompact = nAdds)
      // watermark check closes the loop on the reference's eager
      // re-split (lsh.rs:218-251): compact now if any leaf outgrew
      // compactFactor × maxNodeSize (Long math — maxNodeSize may be
      // Int.MaxValue in the degenerate exact configs, which never compact)
      val watermark = params.compactFactor.toLong * params.maxNodeSize.toLong
      val overflowed = params.maxNodeSize != Int.MaxValue &&
        newTrees.exists(_.leafSizes.valuesIterator.exists(_ > watermark))
      if (overflowed) updated.rebuildLeaves() else updated
    }

    /** Merge another forest into this one — cross-job compaction (see
      * [[MergeOps]]): the surviving forest's planes re-route the
      * incoming rows through the [[add]] descent (a narrow broadcast
      * map), so merge(a, b) ≡ a.add(b's rows). The argument's own tree
      * structure is necessarily discarded — split planes are
      * data-dependent, two forests' trees cannot union — exactly the
      * IVFFlat different-grid re-assign semantics. Leaf-overflow
      * compaction fires on add's usual watermark. Disjoint-id
      * contract. */
    def merge(other: Model): Model =
      add(other.indexed.select(col("id"), col("vector")), "id", "vector")

    /** Takedown twin of [[IVFFlat.Model.remove]]: anti-join on id, the
      * corpus never shuffles. The driver-held leafSizes skeleton keeps
      * its pre-removal counts — overcounts are safe in both uses
      * (compaction fires earlier than needed; backtracking widens
      * probes, never narrows); [[rebuildLeaves]] refreshes them. */
    def remove(ids: DataFrame, idCol: String): Model = {
      val (df, n) = Lineage.without(indexed, ids, idCol, addsSinceCompact)
      copy(indexed = df, addsSinceCompact = n)
    }

    /** Compaction job for leaves that outgrew maxNodeSize under [[add]]
      * (the distributed analogue of the reference's eager re-split on
      * insert, lsh.rs:218-251): re-runs the level-synchronous split loop
      * over the CURRENT paths — existing planes are frozen, only overfull
      * leaves sample a bisector and descend, so untouched leaves keep
      * their path, size, and search results bit-for-bit. */
    def rebuildLeaves(): Model = {
      val spark = indexed.sparkSession
      import spark.implicits._
      val ds = indexed.select(col("id"), col("vector"), col("paths"))
        .as[(Long, Array[Float], Array[String])]
      val grown = trees.map(t =>
        scala.collection.mutable.Map.empty[String, (Array[Double], Double)] ++= t.planes)
      val (finalDs, stats) = refine(ds, grown.toArray, params)
      val newTrees = trees.indices.map { ti =>
        Tree(grown(ti).toMap,
          stats.collect { case ((t, p), (n, _)) if t == ti => p -> n }.toMap)
      }
      Model(params, newTrees, finalDs.toDF("id", "vector", "paths"))
    }

    def save(dir: String): Unit = {
      val spark = indexed.sparkSession
      import spark.implicits._
      indexed.write.mode("overwrite").parquet(s"$dir/indexed")
      trees.zipWithIndex.flatMap { case (t, ti) =>
        t.planes.map { case (p, (c, k0)) => (ti, p, c, k0, -1L) } ++
          t.leafSizes.map { case (p, n) => (ti, p, Array.empty[Double], 0.0, n) }
      }.toDF("tree", "path", "coeffs", "const", "leaf_n")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/trees")
      ParamsIO.write(spark, dir,
        s"""{"numTrees":${params.numTrees},"maxNodeSize":${params.maxNodeSize},"maxDepth":${params.maxDepth},"seed":${params.seed},"compactFactor":${params.compactFactor},"probes":${params.probes}}""")
    }

    /** Pre-pay serving residency over the path-indexed corpus
      * ([[Residency.warm]] — see [[IVFFlat.Model.warm]]), then pack each
      * partition into one resident record ([[packPaths]], no shuffle)
      * that [[search]] serves from. Idempotent. */
    def warm(): Model = { Residency.warm(indexed); serving.warm(); this }

    /** Release the packed serving rows and the path-indexed corpus's
      * storage ([[Residency.cool]]). Launches no job. */
    def cool(): Unit = { serving.cool(); Residency.cool(indexed) }
  }

  /** Up to [[Serve.Chunk]] rows of the path-indexed corpus, packed for
    * serving: the id, vector and per-tree leaf paths of each row, in
    * row order. */
  private[graft] final case class PathRows(ids: Array[Long], vecs: Array[Array[Float]],
                                           paths: Array[Array[String]])

  /** (id, vector, paths) of `indexed` packed into [[PathRows]] chunks —
    * a narrow map, never a shuffle. */
  private def packPaths(indexed: DataFrame): org.apache.spark.rdd.RDD[PathRows] = {
    import indexed.sparkSession.implicits._
    indexed.select(col("id").cast("long"), col("vector").cast("array<float>"),
        col("paths").cast("array<string>"))
      .as[(Long, Array[Float], Array[String])].rdd
      .mapPartitions(_.grouped(Serve.Chunk).map { rows =>
        PathRows(rows.map(_._1).toArray, rows.map(_._2).toArray, rows.map(_._3).toArray)
      })
  }

  /** The scan over packed rows, shared by single and batch search:
    * `probed(t)(q)` are query q's probed leaves in tree t, and each row
    * is scored exactly ([[Serve.sqDist]]) once against every query that
    * probes its leaf in some tree — the cross-tree union, each id once
    * per query. Rows with a null vector are skipped. A row whose
    * dimension differs from a query's fails the task, naming both: a
    * forest with no planes never meets [[signBit]]'s guard, and the
    * distance would fold over the shorter prefix. */
  private def scorePaths(qs: Array[Array[Float]],
                         probed: IndexedSeq[Array[Seq[String]]]): Serve.Score[PathRows] = {
    // per tree: leaf → the batch positions of the queries probing it
    val queriesOf = probed.map { leaves =>
      leaves.indices.flatMap(q => leaves(q).map(_ -> q))
        .groupMap(_._1)(_._2).map { case (leaf, q) => leaf -> q.toArray }
    }.toArray
    (it, bufs) => {
      // seen(q) == row: query q already scored this row through an
      // earlier tree (rows are numbered from 1 within the task)
      val seen = new Array[Int](qs.length)
      var row = 0
      it.foreach { p =>
        var i = 0
        while (i < p.ids.length) {
          row += 1
          val v = p.vecs(i)
          var t = 0
          while (v != null && t < queriesOf.length) {
            val mine = queriesOf(t).getOrElse(p.paths(i)(t), Array.emptyIntArray)
            var j = 0
            while (j < mine.length) {
              val q = mine(j)
              if (seen(q) != row) {
                seen(q) = row
                require(v.length == qs(q).length,
                  s"LSHForest query dim ${qs(q).length} != row dim ${v.length} (id ${p.ids(i)})")
                bufs(q).insert(Serve.sqDist(v, qs(q)), p.ids(i))
              }
              j += 1
            }
            t += 1
          }
          i += 1
        }
      }
    }
  }

  /** Perpendicular-bisector plane through the midpoint of (a, b)
    * (lsh.rs:72-80): normal = b − a, constant = −normal·midpoint.
    * Double precision throughout, element order fixed → reproducible in
    * SQL for the oracle. */
  private[graft] def bisectorPlane(a: Array[Float], b: Array[Float]): (Array[Double], Double) = {
    val n = Array.tabulate(a.length)(i => b(i).toDouble - a(i).toDouble)
    var const = 0.0
    var i = 0
    while (i < n.length) { const -= n(i) * ((a(i).toDouble + b(i).toDouble) / 2.0); i += 1 }
    (n, const)
  }

  /** The sign fold shared by build, driver descent and [[pointIsAbove]]:
    * Σ coeffsᵢ·vᵢ folded from 0.0, constant added last, ≥ 0. The dim
    * guard fails loudly on a mismatched vector (merge/add of a
    * different-dim corpus) instead of silently routing by a coordinate
    * prefix — the [[graft.index.BQ]] probeFrame guard's forest twin. */
  @inline private[graft] def signBit(coeffs: Array[Double], const: Double,
                                     v: Array[Float]): Boolean = {
    require(v.length == coeffs.length,
      s"LSH plane dim ${coeffs.length} != vector dim ${v.length}")
    var s = 0.0; var i = 0
    while (i < coeffs.length) { s += coeffs(i) * v(i); i += 1 }
    s + const >= 0
  }

  /** Sign test as a Column over broadcast-literal plane (lsh.rs:27-29).
    * Terms fold from 0.0 and the constant is added LAST — the exact shape
    * `list_reduce(...) + const` takes in the DuckDB oracle, so the score
    * is bit-identical across engines. */
  def pointIsAbove(vec: Column, coeffs: Array[Double], const: Double): Column = {
    val score = aggregate(
      zip_with(typedlit(coeffs), vec, (c, x) => c * x.cast("double")),
      lit(0.0d), (acc, x) => acc + x) + lit(const)
    score >= 0
  }

  /** Per-(tree, node) build statistics: row count and the ≤2 rows with
    * the smallest level-salted hash (the deterministic "random" split
    * pair). Partition-local partials; merged on the driver. */
  private type NodeStat = (Long, List[(Long, Long, Array[Float])])

  /** Partition-local accumulator for one (tree, node): row count + the
    * two rows with the smallest level-salted hash, kept in two in-place
    * slots — the levelStats insert runs once per row per tree, so it
    * must not allocate (the List ++ sortBy shape it replaces dominated
    * build wall at 16 trees × 100k rows). */
  private final class MutStat {
    var n = 0L
    var h1 = Long.MaxValue; var id1 = 0L; var v1: Array[Float] = null
    var h2 = Long.MaxValue; var id2 = 0L; var v2: Array[Float] = null
    @inline def insert(h: Long, id: Long, v: Array[Float]): Unit = {
      n += 1
      if (h < h1 || (h == h1 && id < id1)) {
        h2 = h1; id2 = id1; v2 = v1
        h1 = h; id1 = id; v1 = v
      } else if (v2 == null || h < h2 || (h == h2 && id < id2)) {
        h2 = h; id2 = id; v2 = v
      }
    }
    def toStat: NodeStat =
      (n, if (v2 == null) List((h1, id1, v1)) else List((h1, id1, v1), (h2, id2, v2)))
  }

  /** One job: fold every partition into per-(tree, path) counts + two
    * min-hash sample vectors, merge per leaf via reduceByKey, collect
    * ONE row per (tree, leaf). Rows and their vectors never shuffle or
    * explode — the only moving data is the O(activeNodes × 2 vectors)
    * partials, and the driver result is O(activeNodes), independent of
    * partition count (the earlier per-partition collect was
    * O(activeNodes × partitions) and blew spark.driver.maxResultSize at
    * 1M rows × leaf 256: ~32k leaves × 32 partitions × ~1 KB ≈ 1 GB). */
  private def levelStats(
      ds: org.apache.spark.sql.Dataset[(Long, Array[Float], Array[String])],
      levelSeed: Long): Map[(Int, String), NodeStat] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions { it =>
      // per-tree maps keyed by path: no tuple-key allocation per row
      var m: Array[scala.collection.mutable.HashMap[String, MutStat]] = null
      it.foreach { case (id, v, paths) =>
        if (m == null)
          m = Array.fill(paths.length)(scala.collection.mutable.HashMap.empty[String, MutStat])
        var ti = 0
        while (ti < paths.length) {
          val h = mix64(id ^ (ti * 0x9E3779B97F4A7C15L) ^ levelSeed)
          m(ti).getOrElseUpdate(paths(ti), new MutStat).insert(h, id, v)
          ti += 1
        }
      }
      if (m == null) Iterator.empty
      else m.iterator.zipWithIndex.flatMap { case (tm, ti) =>
        tm.iterator.map { case (p, st) => val s = st.toStat; (ti, p, s._1, s._2) }
      }
    }.rdd
      // count-sum + keep the 2 smallest (hash, id) samples; inlined so
      // the lambda stays static — a module-method reference would drag
      // (non-serializable) LSHForest$ into the task
      .map(r => ((r._1, r._2), (r._3, r._4): NodeStat))
      .reduceByKey((a, b) => (a._1 + b._1,
        (a._2 ++ b._2).sortBy(t => (t._1, t._2)).take(2)))
      .collect()
      .toMap
  }

  /** The level-synchronous split loop shared by [[build]] and
    * [[Model.rebuildLeaves]]: repeatedly split every overfull
    * (tree, node) on its sampled bisector until none remains (or the
    * per-run depth cap). `planes` is extended in place; returns the
    * final dataset and its terminal per-leaf stats.
    *
    * Each level is materialized via `localCheckpoint`, NOT `cache`: a
    * cache chain keeps the whole per-level map lineage in the logical
    * plan, and plan-string/AQE bookkeeping grows superlinearly with
    * depth — on deep trees (clustered data drives depth toward
    * maxDepth) stringifying those nested plans alone OOMed an 8 GB
    * driver. Checkpointing truncates lineage so every level plans
    * against a flat scan; each superseded level is released
    * ([[Residency.cool]]) as soon as the next one is filled, so a build
    * holds one level, not as many as GC timing leaves behind. */
  private def refine(
      ds0: org.apache.spark.sql.Dataset[(Long, Array[Float], Array[String])],
      planes: Array[scala.collection.mutable.Map[String, (Array[Double], Double)]],
      params: Params)
  : (org.apache.spark.sql.Dataset[(Long, Array[Float], Array[String])],
     Map[(Int, String), NodeStat]) = {
    val spark = ds0.sparkSession
    import spark.implicits._
    var ds = ds0.localCheckpoint(true)

    var level = 0
    var stats = Map.empty[(Int, String), NodeStat]
    var splitLast = true
    while (splitLast && level < params.maxDepth) {
      stats = levelStats(ds, params.seed + level * 131L)
      val overfull = stats.filter(_._2._1 > params.maxNodeSize)
      splitLast = overfull.nonEmpty
      if (splitLast) {
        // an overfull node holds ≥ 2 rows (count > maxNodeSize ≥ 1) and
        // ids are unique post-dedup, so two samples always exist; a node
        // whose split left one side empty stays overfull and re-samples
        // next level under the level-salted hash
        val newPlanes: Map[(Int, String), (Array[Double], Double)] =
          overfull.map { case (key, (_, samples)) =>
            key -> bisectorPlane(samples.head._3, samples(1)._3)
          }
        // ONE narrow pass appending the side bits (broadcast plane maps,
        // tree-indexed so the per-row lookup allocates no tuple key)
        val planesByTree: Array[Map[String, (Array[Double], Double)]] =
          Array.tabulate(planes.length)(ti =>
            newPlanes.collect { case ((`ti`, p), pl) => p -> pl }.toMap)
        val bcPlanes = spark.sparkContext.broadcast(planesByTree)
        val prev = ds
        ds = ds.map { case (id, v, paths) =>
          val pl = bcPlanes.value
          var ti = 0
          val out = new Array[String](paths.length)
          while (ti < paths.length) {
            out(ti) = pl(ti).get(paths(ti)) match {
              case Some((coeffs, const)) =>
                paths(ti) + (if (signBit(coeffs, const, v)) "1" else "0")
              case None => paths(ti)
            }
            ti += 1
          }
          (id, v, out)
        }.localCheckpoint(true)
        Residency.cool(prev)
        newPlanes.foreach { case ((ti, p), pl) => planes(ti)(p) = pl }
      }
      level += 1
    }
    // the terminal aggregate IS the leaf-size table — unless the depth
    // cap cut the loop right after a split, in which case one more
    // (counts-only) pass picks up the post-split paths
    if (splitLast) stats = levelStats(ds, params.seed)
    (ds, stats)
  }

  def build(emb: DataFrame, idCol: String, vecCol: String,
            params: Params): Model = {
    import emb.sparkSession.implicits._
    val T = params.numTrees

    // exact-dup elimination, keep-first by id (lsh.rs:113-130)
    val base = emb
      .select(col(idCol).cast("long").as("id"),
              col(vecCol).cast("array<float>").as("vector"))
    val deduped = if (params.dedupExact) {
      val wDup = Window.partitionBy(col("vector")).orderBy(col("id").asc)
      base.withColumn("_rn", row_number().over(wDup))
        .filter(col("_rn") === 1).drop("_rn")
    } else base
    val ds0 = deduped
      .withColumn("paths", array_repeat(lit(""), T))
      .as[(Long, Array[Float], Array[String])]

    val planes = Array.fill(T)(scala.collection.mutable.Map.empty[String, (Array[Double], Double)])
    val (ds, stats) = refine(ds0, planes, params)

    val treesOut = (0 until T).map { ti =>
      Tree(planes(ti).toMap,
        stats.collect { case ((t, p), (n, _)) if t == ti => p -> n }.toMap)
    }
    Model(params, treesOut, ds.toDF("id", "vector", "paths"))
  }

  def load(spark: SparkSession, dir: String): Model = {
    val json = ParamsIO.read(spark, dir)
    def num(key: String): Long = ParamsIO.num(json, key)
    val params = Params(num("numTrees").toInt, num("maxNodeSize").toInt,
      num("maxDepth").toInt, num("seed"),
      compactFactor = ParamsIO.dbl(json, "compactFactor", 4.0).toInt,
      probes = ParamsIO.dbl(json, "probes", 1.0).toInt)
    val rows = spark.read.parquet(s"$dir/trees").collect()
    val trees = (0 until params.numTrees).map { ti =>
      val mine = rows.filter(_.getInt(0) == ti)
      val planes = mine.filter(_.getLong(4) == -1L).map { r =>
        r.getString(1) -> (r.getAs[scala.collection.Seq[Double]](2).toArray, r.getDouble(3))
      }.toMap
      val leaves = mine.filter(_.getLong(4) >= 0L).map { r =>
        r.getString(1) -> r.getLong(4)
      }.toMap
      Tree(planes, leaves)
    }
    Model(params, trees, spark.read.parquet(s"$dir/indexed"))
  }
}
