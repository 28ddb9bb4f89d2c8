package graft

import org.apache.spark.sql.functions._

import graft.index.IVFFlat
import graft.operators.Exhaustive

class IVFFlatSpec extends SparkSpec {

  private lazy val emb =
    spark.read.parquet(s"$sf0001/embeddings.parquet").cache()

  private lazy val model =
    IVFFlat.build(emb, "vec_id", "embedding", IVFFlat.Params(k = 10, numAttempts = 2, maxIterations = 10))

  test("build covers all rows, every row assigned to a valid cluster") {
    assert(model.indexed.count() == emb.count())
    assert(model.clusterSizes.sum == emb.count())
    val bad = model.indexed
      .filter(col("cluster") < 0 || col("cluster") >= model.params.k).count()
    assert(bad == 0)
  }

  test("rangeSearchMany: probe-all == exhaustive radius; partial probe ⊆ it") {
    val queries = emb.filter(col("vec_id") < 5)
    val radius = 1.8
    val want = Exhaustive.rangeSearch(queries, "vec_id", "embedding",
        emb, "vec_id", "embedding", radius)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val all = model.rangeSearchMany(queries, "vec_id", "embedding",
        radius, nprobe = model.params.k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(all == want)
    val partial = model.rangeSearchMany(queries, "vec_id", "embedding",
        radius, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(partial.subsetOf(want)) // never a false positive
    // every self-pair sits in the query's own nearest cell → found
    assert((0L until 5L).forall(q => partial.contains((q, q, 0.0))))
  }

  private def recallAt10(nprobe: Int): Double = {
    val queries = emb.filter(col("vec_id") < 20)
    val truth = Exhaustive.knnJoin(queries, "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 10)
      .select("qid", "id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val got = model.searchMany(queries, "vec_id", "embedding", k = 10, nprobe = nprobe)
      .select("qid", "id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = truth.keys.toSeq.map { q =>
      got.getOrElse(q, Set.empty).intersect(truth(q)).size / 10.0
    }
    recalls.sum / recalls.size
  }

  // The sf0.001 embeddings are near-uniform in 64d (within/between-label
  // mean sqdist 1.96 vs 2.00), so partial-probe recall is bounded by the
  // data, not the implementation. Two gates: probing everything must be
  // EXACTLY exhaustive (plumbing correctness), and a deterministic
  // partial-probe floor (quality sanity; seeded KMeans → reproducible).
  test("recall@10 with nprobe=k equals exhaustive (1.0); nprobe=4 >= 0.7") {
    assert(recallAt10(model.params.k) == 1.0)
    assert(recallAt10(4) >= 0.7)
  }

  test("small-batch scan pruning: cluster filter below the probe join, identical results") {
    val q1 = emb.filter(col("vec_id") === 3)
    // one query at nprobe=2 probes 2 of 10 cells: the scan must carry
    // a cluster membership filter (Cells.inCells: partition pruning on
    // the saved layout)...
    val pruned = model.searchMany(q1, "vec_id", "embedding", k = 5, nprobe = 2)
    pruned.collect()
    val plan = pruned.queryExecution.optimizedPlan.toString
    assert("array_contains\\([^)]*cluster".r.findFirstIn(plan).isDefined,
      "probed-cell filter missing below the join:\n" + plan.take(1200))
    // ...and prune NOTHING semantically: the probe-all batch (every
    // cell) equals the filter-free exhaustive ranking
    val qv = emb.filter(col("vec_id") === 3)
      .select(col("embedding").cast("array<float>"))
      .head().getAs[scala.collection.Seq[Float]](0).toArray
    val want = Exhaustive.topK(emb, "vec_id", "embedding", typedlit(qv), 5)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("distance")))
      .toSeq
    val got = model.searchMany(q1, "vec_id", "embedding", k = 5,
        nprobe = model.params.k)
      .orderBy(col("distance"), col("id"))
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Double]("distance")))
      .toSeq
    assert(got == want)
  }

  test("single-query search returns ascending distances, <= k rows, self hit first") {
    val q = emb.filter(col("vec_id") === 7)
      .select(col("embedding").cast("array<float>"))
      .head().getAs[scala.collection.Seq[Float]](0).toArray
    val res = model.search(q, k = 5).collect()
    assert(res.length == 5)
    val dists = res.map(_.getAs[Double]("distance"))
    assert(dists.sameElements(dists.sorted))
    assert(res.head.getAs[Long]("id") == 7L && dists.head == 0.0)
  }

  test("wrong-dimension queries are refused by every entry point, naming both dims") {
    import spark.implicits._
    val dim = model.centroids(0).length
    val base = emb.filter(col("vec_id") === 3)
      .select(col("embedding").cast("array<float>"))
      .head().getAs[scala.collection.Seq[Float]](0).toArray
    val entryPoints: Seq[(String, Array[Float] => Unit)] = Seq(
      "search" -> (q => model.search(q, 5).collect()),
      "searchMany" -> (q => model.searchMany(Seq((0L, q)).toDF("qid", "qvec"),
        "qid", "qvec", 5).collect()),
      "rangeSearchMany" -> (q => model.rangeSearchMany(
        Seq((0L, q)).toDF("qid", "qvec"), "qid", "qvec", 1.0).collect()),
      "knnJoin" -> (q => model.knnJoin(Seq((0L, q)).toDF("qid", "qvec"),
        "qid", "qvec", 5).collect()))
    for ((name, run) <- entryPoints; q <- Seq(base :+ 0.5f, base.init)) {
      // a longer query used to score a prefix, a shorter one failed
      // inside a task with an index error: both must be refused
      val e = intercept[Throwable](run(q))
      val iae = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
        .collectFirst { case x: IllegalArgumentException => x }
      assert(iae.exists(x => x.getMessage.contains(s"dim ${q.length}") &&
          x.getMessage.contains(s"dim $dim")),
        s"$name with a ${q.length}-dim query on a $dim-dim index: $e")
    }
  }

  test("save/load round-trip: reloaded search equals pre-save search (utils.rs:140-148 shape)") {
    val dir = java.nio.file.Files.createTempDirectory("ivf").toString
    model.save(dir)
    val re = IVFFlat.load(spark, dir)
    assert(re.params == model.params)
    assert(re.centroids.length == model.centroids.length)
    val q = emb.filter(col("vec_id") === 3)
      .select(col("embedding").cast("array<float>"))
      .head().getAs[scala.collection.Seq[Float]](0).toArray
    val before = model.search(q, 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val after = re.search(q, 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(before.sameElements(after))
  }

  test("updateCentroids: per-cluster mean via Aggregator; empty cluster → zero vector (ivfflat.rs:47-71)") {
    import spark.implicits._
    val indexed = Seq(
      (1L, Array(1f, 3f), 0), (2L, Array(3f, 5f), 0), // cluster 0 mean (2,4)
      (3L, Array(7f, 9f), 2))                          // cluster 1 EMPTY
      .toDF("id", "vector", "cluster")
    val cents = IVFFlat.updateCentroids(indexed, k = 3, dim = 2)
    assert(cents(0).toSeq == Seq(2f, 4f))
    assert(cents(1).toSeq == Seq(0f, 0f)) // empty → zero, reference rule
    assert(cents(2).toSeq == Seq(7f, 9f))
  }

  test("add honours caller id (ivfflat.rs:209 quirk fixed) and makes row findable") {
    import spark.implicits._
    val v = Array.fill(64)(0.125f)
    val added = model.add(Seq((999999L, v)).toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    val hit = added.search(v, k = 1).head()
    assert(hit.getAs[Long]("id") == 999999L)
    assert(hit.getAs[Double]("distance") == 0.0)
  }

  test("rebalance(1) == update-then-assign primitives; sizes tight; cost non-increasing") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // drift scenario: take down a slab of ids, then repair
    val drifted = model.remove(
      emb.filter($"vec_id" % 5 === 0).select($"vec_id"), "vec_id")
    val re = drifted.rebalance(1)
    // equality against the composed primitives (the definition)
    val cents1 = graft.index.IVFFlat.updateCentroids(
      drifted.indexed, model.params.k, 64)
    val want = graft.index.IVFFlat.assign(drifted.indexed, "id", "vector", cents1)
      .select($"id", $"cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = re.indexed.select($"id", $"cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == want)
    // sizes are TIGHT again (remove leaves them frozen; rebalance recounts)
    assert(re.clusterSizes.sum == drifted.indexed.count())
    // Lloyd's monotonicity: one step never increases the k-means cost
    def cost(m: graft.index.IVFFlat.Model): Double = {
      val bc = spark.sparkContext.broadcast(m.centroids)
      m.indexed.select($"vector", $"cluster").as[(Array[Float], Int)]
        .map { case (v, c) => graft.index.IVFFlat.sqDistLocal(bc.value(c), v) }
        .reduce(_ + _)
    }
    assert(cost(re) <= cost(drifted) * (1.0 + 1e-9))
  }

  test("splitCells: probe-all search identical to unsplit; hot cell capped; rows preserved") {
    import spark.implicits._
    // Zipf-shaped plant: one head mode holds 70% of the corpus, so one
    // k-means cell is guaranteed hot (≫ maxCellFactor × mean)
    val r = new scala.util.Random(0xBADCE11L)
    val rows = (0 until 2000).map { i =>
      val v = // dense-but-CONTINUOUS head mode (geometrically splittable)
        if (i < 1400) Array.fill(8)(5f + r.nextFloat() * 2f)
        else Array.fill(8)(r.nextFloat() * 10f)
      (i.toLong, v)
    }
    val df = rows.toDF("id", "vec")
    val m = IVFFlat.build(df, "id", "vec",
      IVFFlat.Params(k = 8, numAttempts = 1, maxIterations = 6))
    val cap = math.ceil(1.2 * rows.size.toDouble / 8).toLong
    assert(m.clusterSizes.max > cap, "plant must produce a hot cell")
    val split = m.splitCells(maxCellFactor = 1.2, iterations = 3)
    assert(split.centroids.length > m.centroids.length)
    assert(split.params.k == split.centroids.length)
    assert(split.clusterSizes.sum == rows.size.toLong)
    assert(split.indexed.count() == rows.size.toLong)
    // the hot mass spreads across its sub-cells (Voronoi cells of a
    // continuous blob are never perfectly even — gate on a real shrink)
    assert(split.clusterSizes.max <= (m.clusterSizes.max * 0.6).toLong,
      s"hot cell must shrink: max ${split.clusterSizes.max} vs " +
        s"unsplit max ${m.clusterSizes.max} (cap $cap)")
    // probe-all over the split grid ≡ probe-all over the unsplit grid
    // (same rows, exhaustive coverage — the split is pure re-binning)
    val queries = df.filter(col("id") < 10)
    def topAll(model: IVFFlat.Model) =
      model.searchMany(queries, "id", "vec", k = 5,
          nprobe = model.centroids.length)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
    assert(topAll(split) == topAll(m))
    // splitting an already-balanced grid is the identity
    assert(split.splitCells(maxCellFactor = 1e9) eq split)
  }
}
