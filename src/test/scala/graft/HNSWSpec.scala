package graft

import org.apache.spark.sql.functions._

import graft.index.{HNSW, HNSWGraph}
import graft.operators.Exhaustive

class HNSWSpec extends SparkSpec {

  private lazy val emb =
    spark.read.parquet(s"$sf0001/embeddings.parquet").cache()

  test("core graph: exhaustive-equivalent when ef is huge, single shard") {
    import spark.implicits._
    val rows = emb.select(col("vec_id").cast("long"), col("embedding").cast("array<float>"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val g = HNSWGraph.build(
      HNSWGraph.Params(numLayers = 6, efConstruction = 600, efSearch = 600, m = 16),
      rows.iterator)
    assert(g.size == rows.length)
    // ef >= n makes layer-0 beam search exhaustive → exact top-k by cosine
    val q = rows(4)._2
    val got = g.searchKnn(q, 10).map(_._1)
    val truth = Exhaustive.topK(emb, "vec_id", "embedding",
        typedlit(q), 10, metric = "cosine")
      .collect().map(_.getLong(0)).toSeq
    assert(got == truth, s"got=$got truth=$truth")
  }

  test("core graph: levels are deterministic per id and capped") {
    val g = new HNSWGraph(HNSWGraph.Params(numLayers = 4, m = 8))
    val ls = (0L until 1000L).map(g.levelOf)
    assert(ls.forall(l => l >= 0 && l < 4))
    assert(ls == (0L until 1000L).map(g.levelOf)) // stable
    assert(ls.count(_ == 0) > 500) // geometric-ish decay
  }

  private lazy val model = HNSW.build(emb, "vec_id", "embedding",
    HNSWGraph.Params(numLayers = 6, efConstruction = 100, efSearch = 64, m = 16),
    numShards = 4)

  test("sharded search: recall@10 vs exhaustive cosine oracle >= 0.9") {
    val queries = emb.filter(col("vec_id") < 20)
    val truth = Exhaustive.knnJoin(queries, "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 10, metric = "cosine")
      .select("qid", "id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val got = model.searchMany(queries, "vec_id", "embedding", k = 10)
      .select("qid", "id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val mean = truth.keys.toSeq
      .map(q => got.getOrElse(q, Set.empty).intersect(truth(q)).size / 10.0)
      .sum / truth.size
    assert(mean >= 0.9, s"mean recall@10 = $mean")
  }

  test("build is deterministic: two builds give byte-identical search results") {
    val queries = emb.filter(col("vec_id") < 10)
    def run(): Seq[(Long, Long, Double)] = {
      val m = HNSW.build(emb, "vec_id", "embedding",
        HNSWGraph.Params(numLayers = 6, efConstruction = 100, efSearch = 64, m = 16),
        numShards = 4)
      m.searchMany(queries, "vec_id", "embedding", 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._3, t._2)).toSeq
    }
    assert(run() == run())
  }

  test("save/load round-trip preserves search results (utils.rs:140-148 shape)") {
    val dir = java.nio.file.Files.createTempDirectory("hnsw").toString
    model.save(dir)
    val re = HNSW.load(spark, dir)
    assert(re.params == model.params && re.numShards == model.numShards)
    val queries = emb.filter(col("vec_id") === 13)
    val before = model.searchMany(queries, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).sortBy(_._2)
    val after = re.searchMany(queries, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).sortBy(_._2)
    assert(before.sameElements(after))
  }

  test("add into a residue class with no build-time rows still lands (empty-shard regression)") {
    import spark.implicits._
    // build from even ids only, 2 shards → shard 1 starts empty
    val even = emb.filter(col("vec_id") % 2 === 0)
    val m = HNSW.build(even, "vec_id", "embedding",
      HNSWGraph.Params(numLayers = 4, efConstruction = 50, efSearch = 32, m = 8),
      numShards = 2)
    val odd = emb.filter(col("vec_id") === 1)
    val m2 = m.add(odd, "vec_id", "embedding")
    val hit = m2.searchMany(odd, "vec_id", "embedding", 1).head()
    assert(hit.getLong(1) == 1L, "row added to an initially-empty shard must be findable")
  }

  private lazy val routed = HNSW.buildRouted(emb, "vec_id", "embedding",
    HNSWGraph.Params(numLayers = 6, efConstruction = 100, efSearch = 64, m = 16),
    numShards = 4)

  test("routed build: full fan-out equals probeShards=numShards; self-hit at probeShards=1") {
    val queries = emb.filter(col("vec_id") < 20)
    def setOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // probeShards >= numShards and the default 0 are the same all-shard scan
    assert(setOf(routed.searchMany(queries, "vec_id", "embedding", 10))
      == setOf(routed.searchMany(queries, "vec_id", "embedding", 10,
        probeShards = 4)))
    // a corpus vector's nearest router IS its own cell (the query runs
    // the same argmin the build-side assignment ran), so one probed
    // shard always recovers the exact self-match
    val hits = routed.searchMany(queries, "vec_id", "embedding", 1,
        probeShards = 1).collect()
    assert(hits.length == 20)
    hits.foreach { r =>
      assert(r.getLong(0) == r.getLong(1), s"self-miss for qid ${r.getLong(0)}")
      assert(math.abs(r.getDouble(2)) < 1e-6)
    }
    // routing actually prunes: every query returns candidates from its
    // probed shard only, so the k=10 result is a subset of full fan-out
    val pruned = routed.searchMany(queries, "vec_id", "embedding", 10,
        probeShards = 1).select("qid", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = routed.searchMany(queries, "vec_id", "embedding", 500)
      .select("qid", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pruned.subsetOf(full))
  }

  test("cell-split routed build: shard sizes capped, routing bit-equal to unsplit") {
    // efSearch >= corpus makes every per-shard beam search exact, so
    // layout equality claims below are bit-for-bit, not recall-ish
    val p = HNSWGraph.Params(numLayers = 6, efConstruction = 100,
      efSearch = 512, m = 16)
    // tiny factor forces splits on the 500-row corpus's skewed cells
    val split = HNSW.buildRouted(emb, "vec_id", "embedding", p,
      numShards = 4, maxCellFactor = 0.5)
    val unsplit = HNSW.buildRouted(emb, "vec_id", "embedding", p,
      numShards = 4, maxCellFactor = 0.0) // 0 disables the cap
    assert(split.cellShards.isDefined, "0.5× cap must split at least one cell")
    assert(split.numShards > 4)
    val cm = split.cellShards.get
    assert(cm.length == 4 && cm.flatten.toSeq == (0 until split.numShards))
    // no physical shard exceeds the cap (cap = ceil(0.5 * n / 4)):
    // id-hash within a cell spreads near-evenly, allow the hash slack
    val n = emb.count()
    val cap = math.ceil(0.5 * n / 4).toLong
    val sizes = split.shards.collect()
      .map(s => HNSW.deserialize(s.blob).ids.length)
    assert(sizes.length == split.numShards)
    assert(sizes.sum == n)
    sizes.foreach(sz => assert(sz <= cap + cap / 2 + 1, s"shard of $sz > cap $cap"))
    // per-cell routing is EXACT under the split: the router (same seed,
    // same data) is identical, a probed cell probes ALL its subshards,
    // so probing s cells scans exactly the rows the unsplit layout
    // scans — results match bit-for-bit at exact ef
    val queries = emb.filter(col("vec_id") < 20)
    def setOf(m: HNSW.Model, ps: Int) =
      m.searchMany(queries, "vec_id", "embedding", 10, probeShards = ps)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(setOf(split, 4) == setOf(unsplit, 4)) // full fan-out
    assert(setOf(split, 1) == setOf(unsplit, 1)) // single-cell probe
    assert(setOf(split, 2) == setOf(unsplit, 2))
    // self-hit survives the split at probeShards=1
    val hits = split.searchMany(queries, "vec_id", "embedding", 1,
      probeShards = 1).collect()
    assert(hits.length == 20)
    hits.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // add routes into a subshard of the nearest cell and is findable
    val without = emb.filter(col("vec_id") =!= 42)
    val m = HNSW.buildRouted(without, "vec_id", "embedding", p,
      numShards = 4, maxCellFactor = 0.5)
    val held = emb.filter(col("vec_id") === 42)
    val hit = m.add(held, "vec_id", "embedding")
      .searchMany(held, "vec_id", "embedding", 1, probeShards = 1).head()
    assert(hit.getLong(1) == 42L && math.abs(hit.getDouble(2)) < 1e-6)
    // save/load round-trips the cell→subshard map and probed search
    val dir = java.nio.file.Files.createTempDirectory("hnswcs").toString
    split.save(dir)
    val re = HNSW.load(spark, dir)
    assert(re.cellShards.isDefined)
    assert(re.cellShards.get.map(_.toSeq).toSeq == cm.map(_.toSeq).toSeq)
    assert(setOf(re, 2) == setOf(split, 2))
  }

  test("routed add: row lands in its nearest cell and is findable at probeShards=1") {
    val without = emb.filter(col("vec_id") =!= 42)
    val m = HNSW.buildRouted(without, "vec_id", "embedding",
      HNSWGraph.Params(numLayers = 6, efConstruction = 100, efSearch = 64, m = 16),
      numShards = 4)
    val held = emb.filter(col("vec_id") === 42)
    val hit = m.add(held, "vec_id", "embedding")
      .searchMany(held, "vec_id", "embedding", 1, probeShards = 1).head()
    assert(hit.getLong(1) == 42L)
    assert(math.abs(hit.getDouble(2)) < 1e-6)
  }

  test("routed save/load round-trip preserves the router and probed search") {
    val dir = java.nio.file.Files.createTempDirectory("hnswr").toString
    routed.save(dir)
    val re = HNSW.load(spark, dir)
    assert(re.routers.isDefined)
    assert(re.routers.get.map(_.toSeq).toSeq == routed.routers.get.map(_.toSeq).toSeq)
    val queries = emb.filter(col("vec_id") < 10)
    def setOf(m: HNSW.Model) =
      m.searchMany(queries, "vec_id", "embedding", 10, probeShards = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(setOf(re) == setOf(routed))
  }

  test("add routes to one shard and the row is findable (queen-holdout shape)") {
    import spark.implicits._
    // the reference's holdout test: remove a row, build, add it back, query it
    val without = emb.filter(col("vec_id") =!= 42)
    val m2 = HNSW.build(without, "vec_id", "embedding",
      HNSWGraph.Params(numLayers = 6, efConstruction = 100, efSearch = 64, m = 16),
      numShards = 4)
    val held = emb.filter(col("vec_id") === 42)
    val m3 = m2.add(held, "vec_id", "embedding")
    val hit = m3.searchMany(held, "vec_id", "embedding", 1).head()
    assert(hit.getLong(1) == 42L)
    assert(math.abs(hit.getDouble(2)) < 1e-6)
  }

  test("wrong-dimension queries fail loudly on search and searchMany") {
    import spark.implicits._
    val q = emb.filter(col("vec_id") === 3)
      .select(col("embedding").cast("array<float>")).head()
      .getAs[scala.collection.Seq[Float]](0).toArray
    // short: dist would index past the query; long: dist would score a
    // prefix and return wrong neighbours without a word
    for (bad <- Seq(q.take(q.length - 1), q :+ 0.5f)) {
      val one = intercept[Throwable](model.search(bad, 5).collect())
      assert(hasMsg(one, s"HNSW query dim ${bad.length} != index dim ${q.length}"),
        s"search: $one")
      val many = intercept[Throwable](
        model.searchMany(Seq((0L, bad)).toDF("qid", "qvec"), "qid", "qvec", 5).collect())
      assert(hasMsg(many, s"HNSW query dim ${bad.length} != index dim ${q.length}"),
        s"searchMany: $many")
    }
  }
}
