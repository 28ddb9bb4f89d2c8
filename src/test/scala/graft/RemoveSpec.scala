package graft

import org.apache.spark.sql.functions._

/** Takedown coverage: every index type must stop RETURNING a removed id
  * while leaving every other result untouched — the
  * right-to-be-forgotten contract. The four row-state indexes
  * hard-remove (anti-join); HNSW soft-deletes (tombstones + over-fetch,
  * purged on rebuild). */
class RemoveSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb =
    spark.read.parquet(s"$sf0001/embeddings.parquet").cache()

  // vec 42's own vector: the query whose nearest neighbour IS 42
  private lazy val q42: Array[Float] = emb.filter($"vec_id" === 42)
    .select($"embedding".cast("array<float>")).head()
    .getAs[scala.collection.Seq[Float]](0).toArray

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select(col("id")).collect().map(_.getLong(0)).toSeq

  test("IVFFlat.remove: removed id gone, survivors' results unchanged") {
    val model = graft.index.IVFFlat.build(emb, "vec_id", "embedding",
      graft.index.IVFFlat.Params(k = 8, numAttempts = 1, maxIterations = 5))
    val before = ids(model.search(q42, 5))
    assert(before.head == 42L)
    val after = model.remove(Seq(42L).toDF("vec_id"), "vec_id")
    val got = ids(after.search(q42, 5))
    assert(!got.contains(42L))
    // survivors keep their relative order: before minus 42, plus one
    assert(got.take(4) == before.filterNot(_ == 42L))
    assert(after.indexed.count() == emb.count() - 1)
  }

  test("LSHForest.remove: removed id gone from the forest search") {
    val model = graft.index.LSHForest.build(emb, "vec_id", "embedding",
      graft.index.LSHForest.Params(numTrees = 1, maxNodeSize = Int.MaxValue))
    assert(ids(model.search(q42, 3)).head == 42L)
    val after = model.remove(Seq(42L).toDF("vec_id"), "vec_id")
    assert(!ids(after.search(q42, 3)).contains(42L))
    assert(after.indexed.count() == emb.count() - 1)
  }

  test("PQ and IVFPQ remove: removed code gone from ADC results") {
    val cbs = SparkEntry.fixedCodebooks(emb, 4)
    val params = graft.index.PQ.Params(m = 4, k = 16)
    val pq = graft.index.PQ.withCodebooks(emb, "vec_id", "embedding", cbs, params)
      .remove(Seq(42L).toDF("vec_id"), "vec_id")
    assert(pq.codes.count() == emb.count() - 1)
    assert(!pq.searchMany(emb.filter($"vec_id" === 42), "vec_id", "embedding", 10)
      .collect().map(_.getLong(1)).contains(42L))
    val cents = SparkEntry.fixedCentroids(emb)
    val ipq = graft.index.IVFPQ.build(emb, "vec_id", "embedding", cents,
        Array.fill(cents.length)(Long.MaxValue), cbs, params)
      .remove(Seq(42L).toDF("vec_id"), "vec_id")
    assert(ipq.codes.count() == emb.count() - 1)
    assert(!ipq.searchMany(emb.filter($"vec_id" === 42), "vec_id", "embedding",
        k = 10, nprobe = cents.length)
      .collect().map(_.getLong(1)).contains(42L))
  }

  test("remove edge cases: re-remove is idempotent; remove-all searches empty, not crashed") {
    val model = graft.index.IVFFlat.build(emb, "vec_id", "embedding",
      graft.index.IVFFlat.Params(k = 4, numAttempts = 1, maxIterations = 3))
    val once = model.remove(Seq(42L).toDF("vec_id"), "vec_id")
    val twice = once.remove(Seq(42L).toDF("vec_id"), "vec_id")
    assert(twice.indexed.count() == once.indexed.count())
    val none = model.remove(emb.select($"vec_id"), "vec_id")
    assert(none.indexed.count() == 0)
    assert(none.search(q42, 5).collect().isEmpty)
    // HNSW: tombstoning every id still answers (empty), k-fill contract
    // only applies while live rows remain. Deterministic subset — two
    // separate limit(n) plans may pick different rows across actions.
    val sub = emb.filter($"vec_id" < 50)
    val h = graft.index.HNSW.build(sub, "vec_id", "embedding",
        graft.index.HNSWGraph.Params(numLayers = 4, efConstruction = 50,
          efSearch = 32, m = 8), numShards = 2)
      .remove(sub.select($"vec_id"), "vec_id")
    assert(h.search(q42, 5).collect().isEmpty)
  }

  test("streaming removals patch the live index (takedown stream)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val model = graft.index.IVFFlat.build(emb, "vec_id", "embedding",
      graft.index.IVFFlat.Params(k = 8, numAttempts = 1, maxIterations = 5))
    val state = new java.util.concurrent.atomic.AtomicReference(model)
    val mem = MemoryStream[Long]
    val q = graft.streaming.Streaming.foldBatches(
      mem.toDF().toDF("vec_id"), state)(_.remove(_, "vec_id"))
    mem.addData(42L)
    q.processAllAvailable()
    mem.addData(7L, 13L) // second microbatch stacks on the first
    q.processAllAvailable()
    q.stop()
    val live = state.get()
    assert(live.indexed.count() == emb.count() - 3)
    assert(!ids(live.search(q42, 5)).contains(42L))
  }

  test("HNSW.remove: tombstoned id never returned, k results still delivered, survives save/load") {
    val model = graft.index.HNSW.build(emb, "vec_id", "embedding",
      graft.index.HNSWGraph.Params(numLayers = 6, efConstruction = 100,
        efSearch = 64, m = 16), numShards = 4)
    assert(ids(model.search(q42, 5)).head == 42L)
    val after = model.remove(Seq(42L).toDF("vec_id"), "vec_id")
    val got = ids(after.search(q42, 5))
    assert(!got.contains(42L))
    assert(got.length == 5, "soft-delete over-fetch must still fill k")
    // tombstones round-trip persistence
    val dir = java.nio.file.Files.createTempDirectory("hnsw_rm").toString
    after.save(dir)
    val re = graft.index.HNSW.load(spark, dir)
    assert(re.removed == Set(42L))
    assert(!ids(re.search(q42, 5)).contains(42L))
  }

  test("HNSW.rebuild: purge hard-removes tombstones, search cost returns to k") {
    val model = graft.index.HNSW.build(emb, "vec_id", "embedding",
      graft.index.HNSWGraph.Params(numLayers = 6, efConstruction = 100,
        efSearch = 64, m = 16), numShards = 4)
    val soft = model.remove(Seq(42L, 7L, 13L).toDF("vec_id"), "vec_id")
    val expected = ids(soft.search(q42, 5))
    val purged = soft.rebuild()
    assert(purged.removed.isEmpty, "purge must clear the tombstone set")
    assert(ids(purged.search(q42, 5)) == expected,
      "purged search must equal the soft-deleted search")
    // the graphs really shed the rows: total node count drops by 3
    val total = purged.shards.collect()
      .map(s => graft.index.HNSW.deserialize(s.blob).size).sum
    assert(total == emb.count() - 3)
    // persistence keeps working after purge (no tombstone sidecar)
    val dir = java.nio.file.Files.createTempDirectory("hnsw_purge").toString
    purged.save(dir)
    val re = graft.index.HNSW.load(spark, dir)
    assert(re.removed.isEmpty)
    assert(ids(re.search(q42, 5)) == expected)
    // purge with no tombstones is a no-op (same blobs, no job)
    assert(purged.rebuild() eq purged)
  }

  test("HNSW remove-then-add resurfaces the id (point-in-time remove)") {
    val model = graft.index.HNSW.build(emb, "vec_id", "embedding",
      graft.index.HNSWGraph.Params(numLayers = 6, efConstruction = 100,
        efSearch = 64, m = 16), numShards = 4)
    val row42 = emb.filter($"vec_id" === 42)
    val readded = model.remove(Seq(42L).toDF("vec_id"), "vec_id")
      .add(row42, "vec_id", "embedding")
    assert(readded.removed.isEmpty, "re-added id must shed its tombstone")
    assert(ids(readded.search(q42, 5)).head == 42L,
      "re-ingested id must be returnable again")
  }
}
