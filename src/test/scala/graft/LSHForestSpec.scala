package graft

import org.apache.spark.sql.functions._

import graft.index.LSHForest
import graft.operators.Exhaustive

class LSHForestSpec extends SparkSpec {

  private lazy val emb =
    spark.read.parquet(s"$sf0001/embeddings.parquet").cache()

  test("degenerate forest (maxNodeSize > n) equals exhaustive search") {
    val model = LSHForest.build(emb, "vec_id", "embedding",
      LSHForest.Params(numTrees = 2, maxNodeSize = 1000))
    assert(model.trees.forall(_.planes.isEmpty))
    val queries = emb.filter(col("vec_id") < 5)
    val got = model.searchMany(queries, "vec_id", "embedding", k = 10)
      .select("qid", "id", "distance").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(t => (t._1, t._3, t._2))
    val truth = Exhaustive.knnJoin(queries, "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 10)
      .select("qid", "id", "distance").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(t => (t._1, t._3, t._2))
    assert(got.sameElements(truth))
  }

  private lazy val model = LSHForest.build(emb, "vec_id", "embedding",
    LSHForest.Params(numTrees = 8, maxNodeSize = 64))

  test("build: every row keeps its id once; leaves respect maxNodeSize") {
    assert(model.indexed.count() == emb.count()) // no exact dups in data
    model.trees.foreach { t =>
      assert(t.leafSizes.values.sum == emb.count())
      // all leaves ≤ maxNodeSize unless a degenerate split got capped
      val oversized = t.leafSizes.filter(_._2 > model.params.maxNodeSize)
      assert(oversized.isEmpty, s"oversized leaves: $oversized")
    }
  }

  test("build keeps only the returned level resident") {
    emb.count() // the input's own cache is not the build's
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val m = LSHForest.build(emb, "vec_id", "embedding",
      LSHForest.Params(numTrees = 4, maxNodeSize = 32))
    assert(m.trees.exists(_.planes.nonEmpty), "the build never split a level")
    val added = sc.getPersistentRDDs.keySet -- before
    assert(added.size == 1, s"persistent RDDs added: $added")
    assert(m.indexed.count() == emb.count())
  }

  test("self-query: every query finds itself at distance 0") {
    val queries = emb.filter(col("vec_id") < 20)
    val got = model.searchMany(queries, "vec_id", "embedding", k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == 20)
    got.foreach { case (qid, id, d) => assert(qid == id && d == 0.0) }
  }

  test("recall@10 vs exhaustive with 8 trees on near-uniform data >= 0.5") {
    val queries = emb.filter(col("vec_id") < 20)
    val truth = Exhaustive.knnJoin(queries, "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 10)
      .select("qid", "id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val got = model.searchMany(queries, "vec_id", "embedding", k = 10)
      .select("qid", "id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val mean = truth.keys.toSeq
      .map(q => got.getOrElse(q, Set.empty).intersect(truth(q)).size / 10.0)
      .sum / truth.size
    assert(mean >= 0.5, s"mean recall@10 = $mean")
  }

  test("multi-probe: probes=4 recall >= single-probe; self-hit preserved") {
    val queries = emb.filter(col("vec_id") < 20)
    def recallOf(m: LSHForest.Model): Double = {
      val truth = Exhaustive.knnJoin(queries, "vec_id", "embedding",
          emb, "vec_id", "embedding", k = 10)
        .select("qid", "id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      val got = m.searchMany(queries, "vec_id", "embedding", k = 10)
        .select("qid", "id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      truth.keys.toSeq
        .map(q => got.getOrElse(q, Set.empty).intersect(truth(q)).size / 10.0)
        .sum / truth.size
    }
    val single = recallOf(model)
    val multi = recallOf(model.copy(params = model.params.copy(probes = 4)))
    // probes > 1 only ADDS candidate leaves (the widened primary set is
    // always kept), so recall is monotone non-decreasing
    assert(multi >= single, s"multi-probe recall $multi < single $single")
    // self-query still finds itself at distance 0 through the mp path
    val hits = model.copy(params = model.params.copy(probes = 4))
      .searchMany(queries, "vec_id", "embedding", k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(hits.length == 20)
    hits.foreach { case (qid, id, d) => assert(qid == id && d == 0.0) }
  }

  test("multi-probe params survive save/load") {
    val dir = java.nio.file.Files.createTempDirectory("lshmp").toString
    val mp = model.copy(params = model.params.copy(probes = 4))
    mp.save(dir)
    assert(LSHForest.load(spark, dir).params.probes == 4)
  }

  test("save/load round-trip preserves search results") {
    val dir = java.nio.file.Files.createTempDirectory("lsh").toString
    model.save(dir)
    val re = LSHForest.load(spark, dir)
    assert(re.params == model.params)
    assert(re.trees.map(_.planes.size) == model.trees.map(_.planes.size))
    val queries = emb.filter(col("vec_id") === 11)
    val before = model.searchMany(queries, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._3)
    val after = re.searchMany(queries, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._3)
    assert(before.sameElements(after))
  }

  test("rebuildLeaves: restores leaf invariant, untouched leaves bit-identical") {
    import spark.implicits._
    // 200 deterministic near-copies of one corpus vector — they descend to
    // the same leaf in each tree, guaranteeing overflow past maxNodeSize=64
    val base = emb.filter(col("vec_id") === 7)
      .select(col("embedding").cast("array<float>")).head()
      .getAs[scala.collection.Seq[Float]](0).toArray
    val batch = (0 until 200).map { i =>
      // deterministic all-element jitter: rows are pairwise distinct (the
      // element-0 offset is injective in i) yet stay within ~1e-2 of the
      // base so they descend to its leaf; jitter spans every element so
      // rebuild's sampled bisectors genuinely bisect the cluster
      val v = base.zipWithIndex.map { case (x, j) =>
        x + ((i * 131 + j * 31) % 1000 - 500) * 2e-5f }
      (900000L + i, v)
    }.toDF("vec_id", "embedding")
    // this test drives rebuildLeaves MANUALLY — disable the add-path
    // watermark so the overflow state is observable
    val noAuto = model.copy(params =
      model.params.copy(compactFactor = Int.MaxValue))
    val grownM = noAuto.add(batch, "vec_id", "embedding")
    val overPerTree = grownM.trees.map(
      _.leafSizes.filter(_._2 > grownM.params.maxNodeSize).keySet)
    assert(overPerTree.exists(_.nonEmpty), "add batch must overflow a leaf")

    // queries whose leaf is untouched in EVERY tree: corpus rows whose own
    // paths (same descent as a query) avoid all overfull leaves
    val untouchedQ = grownM.indexed
      .as[(Long, Array[Float], Array[String])]
      .filter { case (_, _, paths) =>
        paths.zipWithIndex.forall { case (p, ti) => !overPerTree(ti)(p) } }
      .map(t => (t._1, t._2)).limit(5).toDF("vec_id", "embedding").cache()
    assert(untouchedQ.count() == 5)
    val before = grownM.searchMany(untouchedQ, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._3, t._2))

    val rebuilt = grownM.rebuildLeaves()
    rebuilt.trees.zip(grownM.trees).zipWithIndex.foreach { case ((r, a), ti) =>
      // invariant restored; no rows lost
      val oversized = r.leafSizes.filter(_._2 > rebuilt.params.maxNodeSize)
      assert(oversized.isEmpty, s"tree $ti oversized: $oversized")
      assert(r.leafSizes.values.sum == a.leafSizes.values.sum)
      // untouched leaves keep path and size exactly
      a.leafSizes.filterNot(kv => overPerTree(ti)(kv._1)).foreach {
        case (p, n) => assert(r.leafSizes.get(p).contains(n), s"tree $ti leaf $p") }
      // overfull leaves are replaced by descendants holding the same rows
      overPerTree(ti).foreach { p =>
        assert(!r.leafSizes.contains(p), s"tree $ti leaf $p not split")
        assert(r.leafSizes.filter(_._1.startsWith(p)).values.sum
          == a.leafSizes(p), s"tree $ti subtree $p") }
      // existing planes are frozen, only extended
      a.planes.foreach { case (p, (c, k0)) =>
        val got = r.planes(p)
        assert(got._1.sameElements(c) && got._2 == k0, s"tree $ti plane $p") }
    }
    // untouched-leaf queries return byte-identical results
    val after = rebuilt.searchMany(untouchedQ, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._3, t._2))
    assert(after.sameElements(before))
    // the added rows stay findable post-compaction
    val hit = rebuilt.search(batch.filter(col("vec_id") === 900123L)
      .select(col("embedding").cast("array<float>")).head()
      .getAs[scala.collection.Seq[Float]](0).toArray, k = 1).head()
    assert(hit.getAs[Long]("id") == 900123L)
    assert(hit.getAs[Double]("distance") == 0.0)
  }

  test("add: new row lands in every tree's leaf and is findable") {
    import spark.implicits._
    val v = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<float>")).head()
      .getAs[scala.collection.Seq[Float]](0).toArray.map(x => x + 1e-3f)
    val added = model.add(Seq((888888L, v)).toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    // one row can never cross the 4× watermark: no self-compaction,
    // planes bit-identical
    added.trees.zip(model.trees).foreach { case (a, b) =>
      assert(a.planes.keySet == b.planes.keySet) }
    val hit = added.search(v, k = 1).head()
    assert(hit.getAs[Long]("id") == 888888L)
    assert(hit.getAs[Double]("distance") == 0.0)
  }

  test("add self-compacts once a leaf crosses compactFactor × maxNodeSize") {
    import spark.implicits._
    // 400 near-copies of one corpus vector overflow its leaf far past the
    // 4 × 64 watermark → add must trigger rebuildLeaves itself
    val base = emb.filter(col("vec_id") === 23)
      .select(col("embedding").cast("array<float>")).head()
      .getAs[scala.collection.Seq[Float]](0).toArray
    val batch = (0 until 400).map { i =>
      val v = base.zipWithIndex.map { case (x, j) =>
        x + ((i * 131 + j * 31) % 1000 - 500) * 2e-5f }
      (700000L + i, v)
    }.toDF("vec_id", "embedding")
    val grown = model.add(batch, "vec_id", "embedding")
    grown.trees.zipWithIndex.foreach { case (t, ti) =>
      assert(t.leafSizes.values.sum == model.trees(ti).leafSizes.values.sum + 400)
      val oversized = t.leafSizes.filter(_._2 > grown.params.maxNodeSize)
      assert(oversized.isEmpty, s"tree $ti oversized after self-compaction: $oversized")
    }
    // compaction extended the overflowed subtree with fresh planes
    assert(grown.trees.zip(model.trees).exists { case (a, b) =>
      a.planes.size > b.planes.size })
    // added rows stay findable
    val probe = batch.filter(col("vec_id") === 700123L)
      .select(col("embedding").cast("array<float>")).head()
      .getAs[scala.collection.Seq[Float]](0).toArray
    val hit = grown.search(probe, k = 1).head()
    assert(hit.getAs[Long]("id") == 700123L)
    assert(hit.getAs[Double]("distance") == 0.0)
  }

  test("wrong-dimension queries fail loudly on search and searchMany") {
    import spark.implicits._
    val q = emb.filter(col("vec_id") === 3)
      .select(col("embedding").cast("array<float>")).head()
      .getAs[scala.collection.Seq[Float]](0).toArray
    assert(model.trees.forall(_.planes.nonEmpty))
    for (bad <- Seq(q.take(q.length - 1), q :+ 0.5f)) {
      val one = intercept[Throwable](model.search(bad, 5).collect())
      assert(hasMsg(one, s"LSH plane dim ${q.length} != vector dim ${bad.length}"),
        s"search: $one")
      val many = intercept[Throwable](
        model.searchMany(Seq((0L, bad)).toDF("qid", "qvec"), "qid", "qvec", 5).collect())
      assert(hasMsg(many, s"LSH plane dim ${q.length} != vector dim ${bad.length}"),
        s"searchMany: $many")
    }
    // a forest with no planes (the exact configuration, maxNodeSize =
    // Int.MaxValue) routes without a sign test; the scan refuses the row
    // instead of scoring the shared prefix, cold and warm
    val flat = LSHForest.build(emb, "vec_id", "embedding",
      LSHForest.Params(numTrees = 1, maxNodeSize = Int.MaxValue, dedupExact = false))
    assert(flat.trees.forall(_.planes.isEmpty))
    val bads = Seq(q.take(q.length - 1), q :+ 0.5f)
    def want(bad: Array[Float]) = s"LSHForest query dim ${bad.length} != row dim ${q.length}"
    for (bad <- bads) {
      val cold = intercept[Throwable](flat.search(bad, 5).collect())
      assert(hasMsg(cold, want(bad)), s"cold search: $cold")
    }
    flat.warm() // cooling ends the checkpointed corpus: warm checks last
    try for (bad <- bads) {
      val warm = intercept[Throwable](flat.search(bad, 5).collect())
      assert(hasMsg(warm, want(bad)), s"warm search: $warm")
      val many = intercept[Throwable](
        flat.searchMany(Seq((0L, bad)).toDF("qid", "qvec"), "qid", "qvec", 5).collect())
      assert(hasMsg(many, want(bad)), s"warm searchMany: $many")
    } finally flat.cool()
  }
}
