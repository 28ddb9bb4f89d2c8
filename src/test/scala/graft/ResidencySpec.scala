package graft

import org.apache.spark.sql.functions._

import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel

import graft.index.Residency
import graft.operators.{LateInteraction, Retrieval}

/** The serving-residency verbs (index.Residency + the tiers' warm/cool
  * faces): warm must make a tier's big frame resident and change NO
  * result; cool must release every storage handle — including the
  * checkpoint blocks DataFrame.unpersist never reaches — and a
  * cache-backed tier must still serve (recompute) afterwards. */
class ResidencySpec extends SparkSpec {

  import spark.implicits._

  private val r = new scala.util.Random(0x5EED5L)
  private def vec() = Array.fill(8)((r.nextInt(21) - 10).toDouble)
  private lazy val dToks = (for {
    d <- 0 until 40; t <- 0 until 4
  } yield (d.toLong, t.toLong, vec())).toDF("doc_id", "tok_idx", "vec")
  private lazy val qToks = (for {
    q <- 0 until 4; t <- 0 until 3
  } yield (q.toLong, t.toLong, vec())).toDF("qid", "tok_idx", "vec")

  private def params = graft.index.IVFFlat.Params(k = 4, numAttempts = 1,
    maxIterations = 4)

  private def served(idx: LateInteraction.TokenIvf): Seq[(Long, Long, Long)] =
    LateInteraction.maxSimIvf(qToks, "qid", "tok_idx", "vec",
        dToks, "doc_id", "vec", idx, k = 5, m = 1024, nprobe = 4)
      .select("qid", "doc_id", "rank").as[(Long, Long, Long)]
      .collect().sortBy(t => (t._1, t._3)).toSeq

  test("warm on a loaded tier: frame becomes resident, results unchanged, idempotent") {
    val built = LateInteraction.buildTokenIvf(dToks, "doc_id", "tok_idx",
      "vec", params)
    val expect = served(built)
    val dir = java.nio.file.Files.createTempDirectory("residency").toString
    built.save(dir)
    built.cool()
    val loaded = LateInteraction.loadTokenIvf(spark, dir)
    assert(!Residency.isResident(loaded.ivf.indexed),
      "a freshly loaded tier is a plain parquet scan")
    val warmed = loaded.warm()
    assert(Residency.isResident(warmed.ivf.indexed),
      "warm must leave the indexed frame holding storage")
    assert(served(warmed) == expect, "warm must not change results")
    warmed.warm() // idempotent: second warm is a touch, not a re-persist
    assert(served(warmed) == expect)
    warmed.cool()
    assert(!Residency.isResident(warmed.ivf.indexed))
    // cache-backed (persist) frames recompute after cool: still correct
    assert(served(warmed) == expect, "a cooled persist-backed tier recomputes")
  }

  test("TokenIvf.compress materializes codes eagerly; float tier coolable after") {
    val built = LateInteraction.buildTokenIvf(dToks, "doc_id", "tok_idx",
      "vec", params)
    val sq8 = built.compress()
    assert(Residency.isResident(sq8.sq8.codes),
      "compress must leave the code table resident (computed once, not per-serve)")
    val expect = LateInteraction.maxSimSq8(qToks, "qid", "tok_idx", "vec",
        dToks, "doc_id", "vec", sq8, k = 5, m = 1024, nprobe = 4)
      .select("qid", "doc_id", "rank").as[(Long, Long, Long)]
      .collect().sortBy(t => (t._1, t._3)).toSeq
    // the lean point: drop the float tier, compressed serving unaffected
    built.cool()
    assert(!Residency.isResident(built.ivf.indexed))
    val after = LateInteraction.maxSimSq8(qToks, "qid", "tok_idx", "vec",
        dToks, "doc_id", "vec", sq8, k = 5, m = 1024, nprobe = 4)
      .select("qid", "doc_id", "rank").as[(Long, Long, Long)]
      .collect().sortBy(t => (t._1, t._3)).toSeq
    assert(after == expect)
    sq8.cool()
    assert(!Residency.isResident(sq8.sq8.codes))
  }

  test("cool on a checkpoint-backed tier frees the checkpoint blocks") {
    val built = LateInteraction.buildTokenIvf(dToks, "doc_id", "tok_idx",
      "vec", params)
    val pqTier = built.compressPq(graft.index.PQ.Params(m = 3, k = 4,
      iterations = 2, seed = 7L))
    // trainWithCoarse localCheckpoints the codes — resident via the
    // checkpoint handle, invisible to DataFrame.storageLevel
    assert(Residency.isResident(pqTier.pq.codes))
    val before = spark.sparkContext.getPersistentRDDs.size
    pqTier.cool()
    assert(!Residency.isResident(pqTier.pq.codes),
      "cool must reach checkpoint blocks (the handle unpersist lacks)")
    assert(spark.sparkContext.getPersistentRDDs.size < before,
      "the checkpoint RDD must leave the persistent-RDD registry")
    built.cool()
  }

  test("HNSW and LSHForest residency verbs: warm resident + results unchanged, cool releases") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(col("vec_id") < 64)
    val q = emb.filter(col("vec_id") < 5)
    val hnsw = graft.index.HNSW.build(emb, "vec_id", "embedding",
      graft.index.HNSWGraph.Params(numLayers = 4, efConstruction = 32,
        efSearch = 32, m = 8), numShards = 2)
    val hExpect = hnsw.searchMany(q, "vec_id", "embedding", 3)
      .collect().map(_.toSeq).toSet
    hnsw.warm()
    assert(Residency.isResident(hnsw.shards))
    assert(hnsw.searchMany(q, "vec_id", "embedding", 3)
      .collect().map(_.toSeq).toSet == hExpect)
    hnsw.cool()
    assert(!Residency.isResident(hnsw.shards))
    assert(hnsw.graphs.get.isEmpty)
    val lsh = graft.index.LSHForest.build(emb, "vec_id", "embedding",
      graft.index.LSHForest.Params(numTrees = 4, maxNodeSize = 16))
    val lExpect = lsh.searchMany(q, "vec_id", "embedding", 3)
      .collect().map(_.toSeq).toSet
    lsh.warm()
    assert(Residency.isResident(lsh.indexed))
    assert(lsh.searchMany(q, "vec_id", "embedding", 3)
      .collect().map(_.toSeq).toSet == lExpect)
    lsh.cool()
    assert(!Residency.isResident(lsh.indexed))
    assert(lsh.serving.get.isEmpty)
  }

  /** Every RDD the stages of the jobs `body` launches read. */
  private def readsOf(body: => Unit): Set[Int] =
    launchedBy(body).jobs.flatMap(_.stageInfos.flatMap(_.rddInfos.map(_.id))).toSet

  test("HNSW warm keeps the decoded shard graphs resident and searches read them") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(col("vec_id") < 64)
    val hnsw = graft.index.HNSW.build(emb, "vec_id", "embedding",
      graft.index.HNSWGraph.Params(numLayers = 4, efConstruction = 32,
        efSearch = 32, m = 8), numShards = 2)
    val q = Array.fill(emb.first().getAs[scala.collection.Seq[Float]]("embedding").length)(0.1f)
    assert(hnsw.graphs.get.isEmpty)
    hnsw.search(q, 3)
    assert(hnsw.graphs.get.isEmpty, "a cold search decodes the blobs on the call")
    hnsw.warm()
    val graphs = hnsw.graphs.get.getOrElse(fail("warm left no decoded graphs"))
    assert(graphs.getStorageLevel == StorageLevel.MEMORY_ONLY)
    val sc = spark.sparkContext
    assert(sc.getRDDStorageInfo.exists(i => i.id == graphs.id && i.numCachedPartitions > 0),
      "warm fills the decoded graphs")
    assert(readsOf(hnsw.search(q, 3)).contains(graphs.id))
    val qs = emb.filter(col("vec_id") < 5)
    assert(readsOf(hnsw.searchMany(qs, "vec_id", "embedding", 3)).contains(graphs.id))
    val before = sc.getPersistentRDDs.keySet
    hnsw.warm() // idempotent: nothing new is persisted
    assert(sc.getPersistentRDDs.keySet == before)
    hnsw.cool()
    assert(graphs.getStorageLevel == StorageLevel.NONE)
    assert(hnsw.graphs.get.isEmpty)
    assert(!Residency.isResident(hnsw.shards))
  }

  test("LSHForest build holds one checkpoint: warm adds no copy, cool releases it") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(col("vec_id") < 64)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val lsh = graft.index.LSHForest.build(emb, "vec_id", "embedding",
      graft.index.LSHForest.Params(numTrees = 4, maxNodeSize = 16))
    val built = sc.getPersistentRDDs.keySet -- before
    assert(built.size == 1, s"persistent RDDs added by the build: $built")
    assert(Residency.isResident(lsh.indexed), "the build's checkpoint is the indexed frame")
    lsh.warm()
    val serving = lsh.serving.get.map(_.id).toSet
    assert(serving.size == 1, "warm packs the serving copy")
    assert(sc.getPersistentRDDs.keySet -- before == built ++ serving,
      "warm added a copy of the checkpoint")
    assert(Residency.isResident(lsh.indexed), "the checkpoint stays the indexed frame")
    lsh.cool()
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty, "cool left the checkpoint resident")
    assert(!Residency.isResident(lsh.indexed))
  }

  test("IVFFlat and LSHForest warm add one persistent RDD, the serving copy; cool leaves none") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(col("vec_id") < 64)
    val sc = spark.sparkContext
    val q = Array.fill(emb.first().getAs[scala.collection.Seq[Float]]("embedding").length)(0.1f)
    def keys = sc.getPersistentRDDs.keySet
    // `start`: the persisted RDDs before the model was built
    def check(name: String, start: scala.collection.Set[Int], warm: => Unit, cool: => Unit,
              serving: => Option[RDD[_]], search: => Unit): Unit = {
      val built = keys
      warm
      val added = keys -- built
      assert(added.size == 1 && serving.map(_.id).toSet == added,
        s"$name warm added $added, serving copy ${serving.map(_.id)}")
      assert(added.subsetOf(readsOf(search)), s"$name warm search does not read the copy")
      warm // idempotent
      assert(keys -- built == added, s"$name: a second warm packed again")
      cool
      assert(serving.isEmpty)
      assert((keys -- start).isEmpty, s"$name cool left ${keys -- start} persisted")
    }
    val beforeIvf = keys
    val ivf = graft.index.IVFFlat.build(emb, "vec_id", "embedding", params)
    check("IVFFlat", beforeIvf, ivf.warm(), ivf.cool(), ivf.serving.get, ivf.search(q, 3))
    val beforeLsh = keys
    val lsh = graft.index.LSHForest.build(emb, "vec_id", "embedding",
      graft.index.LSHForest.Params(numTrees = 4, maxNodeSize = 16))
    check("LSHForest", beforeLsh, lsh.warm(), lsh.cool(), lsh.serving.get, lsh.search(q, 3))
  }

  test("a warm searchMany reads the serving copy and persists nothing: IVFFlat, HNSW, LSHForest") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(col("vec_id") < 64)
    val batch = emb.filter(col("vec_id") < 5).select(col("vec_id").as("qid"),
      col("embedding").cast("array<float>").as("qvec")).as[(Long, Array[Float])].collect()
      .toSeq.toDF("qid", "qvec")
    val ivf = graft.index.IVFFlat.build(emb, "vec_id", "embedding", params)
    val hnsw = graft.index.HNSW.build(emb, "vec_id", "embedding",
      graft.index.HNSWGraph.Params(efConstruction = 32, m = 8), numShards = 2)
    val lsh = graft.index.LSHForest.build(emb, "vec_id", "embedding",
      graft.index.LSHForest.Params(numTrees = 4, maxNodeSize = 16))
    val sc = spark.sparkContext
    for ((name, warm, cool, serving, many) <- Seq[(String, () => Unit, () => Unit,
        () => Option[RDD[_]], () => Unit)](
        ("IVFFlat", () => ivf.warm(): Unit, () => ivf.cool(), () => ivf.serving.get,
          () => ivf.searchMany(batch, "qid", "qvec", 3).collect(): Unit),
        ("HNSW", () => hnsw.warm(): Unit, () => hnsw.cool(), () => hnsw.graphs.get,
          () => hnsw.searchMany(batch, "qid", "qvec", 3).collect(): Unit),
        ("LSHForest", () => lsh.warm(): Unit, () => lsh.cool(), () => lsh.serving.get,
          () => lsh.searchMany(batch, "qid", "qvec", 3).collect(): Unit))) {
      warm()
      try {
        val copy = serving().getOrElse(fail(s"$name warm packed no serving copy"))
        val before = sc.getPersistentRDDs.keySet
        assert(readsOf(many()).contains(copy.id), s"$name warm searchMany does not read the copy")
        assert(sc.getPersistentRDDs.keySet == before, s"$name warm searchMany persisted an RDD")
      } finally cool()
    }
  }

  test("cool on a never-warmed model launches no job and builds nothing: IVFFlat, HNSW, LSHForest") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(col("vec_id") < 64)
    val dir = java.nio.file.Files.createTempDirectory("coolcold").toString
    graft.index.IVFFlat.build(emb, "vec_id", "embedding", params).save(s"$dir/ivf")
    graft.index.HNSW.build(emb, "vec_id", "embedding",
      graft.index.HNSWGraph.Params(efConstruction = 32, m = 8), numShards = 2).save(s"$dir/hnsw")
    graft.index.LSHForest.build(emb, "vec_id", "embedding",
      graft.index.LSHForest.Params(numTrees = 4, maxNodeSize = 16)).save(s"$dir/lsh")
    val ivf = graft.index.IVFFlat.load(spark, s"$dir/ivf")
    val hnsw = graft.index.HNSW.load(spark, s"$dir/hnsw")
    val lsh = graft.index.LSHForest.load(spark, s"$dir/lsh")
    val sc = spark.sparkContext
    for ((name, cool, serving) <- Seq[(String, () => Unit, () => Option[RDD[_]])](
        ("IVFFlat", () => ivf.cool(), () => ivf.serving.get),
        ("HNSW", () => hnsw.cool(), () => hnsw.graphs.get),
        ("LSHForest", () => lsh.cool(), () => lsh.serving.get))) {
      val before = sc.getPersistentRDDs.keySet
      assert(jobsOf(cool()) == 0, s"$name cool launched a job")
      assert(sc.getPersistentRDDs.keySet == before, s"$name cool changed the persisted RDDs")
      assert(serving().isEmpty, s"$name cool built a serving copy")
    }
  }

  test("Bm25Index warm/cool round-trip on a loaded index") {
    val docs = Seq((1L, "spark shuffles partitions"),
      (2L, "spark caches blocks"), (3L, "postings warm blocks"))
      .toDF("doc_id", "text")
    val idx = Retrieval.buildIndex(docs, "doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("residencybm").toString
    idx.save(dir)
    idx.cool()
    val loaded = Retrieval.loadIndex(spark, dir)
    val q = Seq((0L, "spark blocks")).toDF("qid", "text")
    val expect = loaded.searchTopK(q, "qid", "text", k = 3)
      .select("qid", "doc_id", "rank").as[(Long, Long, Int)]
      .collect().sortBy(_._3).toSeq
    assert(!Residency.isResident(loaded.postings))
    val warmed = loaded.warm()
    assert(Residency.isResident(warmed.postings))
    val got = warmed.searchTopK(q, "qid", "text", k = 3)
      .select("qid", "doc_id", "rank").as[(Long, Long, Int)]
      .collect().sortBy(_._3).toSeq
    assert(got == expect)
    warmed.cool()
    assert(!Residency.isResident(warmed.postings))
  }
}
