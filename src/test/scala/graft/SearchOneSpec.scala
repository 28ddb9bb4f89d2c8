package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.{BQ, HNSW, HNSWGraph, IVFFlat, LSHForest, SQ8}

/** The five tiers with a single-query `search`, each as (name, search
  * at k = 10), over the sf0.001 embeddings. Shared by the plan-shape
  * rows in [[PlanSpec]] and the job and equality gates below. */
object SearchOne {
  val K = 10

  def emb(spark: SparkSession, sf: String): DataFrame =
    spark.read.parquet(s"$sf/embeddings.parquet").cache()

  def tiers(emb: DataFrame): Seq[(String, Array[Float] => DataFrame)] = {
    val ivf = SparkEntry.pinnedIvf(emb, SparkEntry.fixedCentroids(emb))
    val sq8 = SQ8.compress(ivf)
    val bq = BQ.compress(ivf)
    val hnsw = HNSW.build(emb, "vec_id", "embedding",
      HNSWGraph.Params(efConstruction = 40, m = 8), numShards = 4)
    val lsh = LSHForest.build(emb, "vec_id", "embedding",
      LSHForest.Params(numTrees = 2, maxNodeSize = 64, probes = 3))
    Seq(
      "IVFFlat" -> (q => ivf.search(q, K, 2)),
      "SQ8" -> (q => sq8.search(q, K, 2)),
      "BQ" -> (q => bq.search(q, K, 2)),
      "HNSW" -> (q => hnsw.search(q, K)),
      "LSHForest" -> (q => lsh.search(q, K)))
  }

  /** The 8 corpus vectors `vec_id < 8` plus 4 off-corpus ones (the
    * first four, each nudged per coordinate). */
  def mixed(emb: DataFrame): Seq[Array[Float]] = {
    val base = queries(emb, 8).toSeq
    val r = new scala.util.Random(0x5e1L)
    base ++ base.take(4).map(_.map(x => x + (r.nextGaussian() * 0.05).toFloat))
  }

  /** Corpus vectors `vec_id < n`, in id order. */
  def queries(emb: DataFrame, n: Int): Array[Array[Float]] =
    emb.filter(col("vec_id") < n).orderBy("vec_id")
      .select(col("embedding").cast("array<float>")).collect()
      .map(_.getAs[scala.collection.Seq[Float]](0).toArray)
}

/** Single-query `search` is one Spark job on every tier, and on HNSW
  * and LSHForest it returns exactly what the one-row `searchMany` does. */
class SearchOneSpec extends SparkSpec {
  import SearchOne.K

  private lazy val emb = SearchOne.emb(spark, sf0001)

  test("search(q, k).collect() launches exactly one job on every tier") {
    val q = SearchOne.queries(emb, 2)(1)
    for ((name, search) <- SearchOne.tiers(emb)) {
      search(q).collect() // warm: build-side caches fill outside the count
      val jobs = jobsOf(search(q).collect(): Unit)
      assert(jobs == 1, s"$name search launched $jobs jobs")
    }
  }

  /** `search` against the one-row `searchMany`, row for row: same ids,
    * bit-identical distances, ascending by (distance, id). */
  private def sameAsOneRowBatch(what: String, qs: Seq[Array[Float]],
                                search: Array[Float] => DataFrame,
                                searchMany: DataFrame => DataFrame): Unit = {
    import spark.implicits._
    for ((q, i) <- qs.zipWithIndex) {
      val got = search(q).collect().map(r =>
        (r.getAs[Long]("id"), r.getAs[Double]("distance"))).toSeq
      val want = searchMany(Seq((0L, q)).toDF("qid", "qvec")).drop("qid")
        .collect().map(r => (r.getAs[Long]("id"), r.getAs[Double]("distance")))
        .sortBy(t => (t._2, t._1)).toSeq
      assert(got.size == K, s"$what query $i: ${got.size} rows")
      assert(got == want, s"$what query $i:\n search     $got\n searchMany $want")
    }
  }

  private lazy val qs = SearchOne.mixed(emb)

  test("HNSW search == one-row searchMany: plain, tombstoned and routed") {
    val params = HNSWGraph.Params(efConstruction = 40, m = 8)
    val plain = HNSW.build(emb, "vec_id", "embedding", params, numShards = 4)
    val dead = plain.remove(emb.filter(col("vec_id") % 7 === 0), "vec_id")
    val routed = HNSW.buildRouted(emb, "vec_id", "embedding", params,
      numShards = 4, routerIterations = 3)
    for ((what, m) <- Seq("plain" -> plain, "tombstoned" -> dead, "routed" -> routed))
      sameAsOneRowBatch(s"HNSW $what", qs, m.search(_, K),
        m.searchMany(_, "qid", "qvec", K))
    // tombstoned ids never come back from the single-query path
    val gone = dead.removed
    assert(qs.forall(q => dead.search(q, K).collect()
      .forall(r => !gone.contains(r.getAs[Long]("id")))))
  }

  /** The per-query merge `searchMany` used before [[graft.functions.TopK.perQuery]]
    * (per-shard top-k, then `Exhaustive.topKDedup`), run on the driver
    * over the decoded blobs: each probed shard's k + |own tombstones|
    * nearest, removed ids dropped, k kept; rows (qid, id, distance). */
  private def mergedOnDriver(m: HNSW.Model, batch: Seq[Array[Float]],
                             probeShards: Int): Seq[(Long, Long, Double)] = {
    val graphs = m.shards.collect().map(s => s.shard -> HNSW.deserialize(s.blob))
    batch.zipWithIndex.flatMap { case (q, qi) =>
      val qv = graft.functions.VectorOps.normalizeLocal(q)
      val probed: Int => Boolean = m.routers
        .filter(c => probeShards > 0 && probeShards < c.length)
        .fold[Int => Boolean](_ => true) { cents =>
          val cells = m.cellShards.getOrElse(Array.tabulate(cents.length)(Array(_)))
          cents.indices.sortBy(c => IVFFlat.sqDistLocal(cents(c), qv))
            .take(probeShards).flatMap(c => cells(c)).toSet
        }
      val cands = graphs.iterator.filter(t => probed(t._1)).flatMap { case (_, g) =>
        val kk = K + g.ids.count(m.removed.contains)
        g.searchKnn(qv, kk).iterator.filterNot(t => m.removed.contains(t._1)).take(K)
      }
      graft.operators.Exhaustive.topKDedup(cands, K)
        .map { case (id, d) => (qi.toLong, id, d) }.toSeq
    }
  }

  private def batchRows(df: DataFrame): Seq[(Long, Long, Double)] =
    df.collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("id"),
      r.getAs[Double]("distance"))).toSeq.sortBy(t => (t._1, t._3, t._2))

  test("HNSW searchMany == the per-shard topKDedup merge, cold and warm: plain, tombstoned, routed") {
    import spark.implicits._
    val params = HNSWGraph.Params(efConstruction = 40, m = 8)
    val plain = HNSW.build(emb, "vec_id", "embedding", params, numShards = 4)
    val dead = plain.remove(emb.filter(col("vec_id") % 7 === 0), "vec_id")
    val routed = HNSW.buildRouted(emb, "vec_id", "embedding", params,
      numShards = 4, routerIterations = 3)
    val batch = qs.zipWithIndex.map { case (q, i) => (i.toLong, q) }.toDF("qid", "qvec")
    for ((what, m, probe) <- Seq(("plain", plain, 0), ("tombstoned", dead, 0),
        ("routed", routed, 0), ("routed probeShards = 2", routed, 2))) {
      val want = mergedOnDriver(m, qs, probe)
      assert(want.size == qs.size * K, s"$what: reference holds ${want.size} rows")
      val cold = batchRows(m.searchMany(batch, "qid", "qvec", K, probe))
      assert(cold == want, s"HNSW $what, cold:\n got  $cold\n want $want")
      val coldOne = qs.map(q => m.search(q, K).collect().toSeq)
      m.warm()
      try {
        assert(batchRows(m.searchMany(batch, "qid", "qvec", K, probe)) == want,
          s"HNSW $what, warm")
        assert(qs.map(q => m.search(q, K).collect().toSeq) == coldOne,
          s"HNSW $what: warm search rows differ from cold")
      } finally m.cool()
    }
  }

  test("IVF-family search compiles the same code whatever cells it probes") {
    import org.apache.spark.sql.execution.debug.codegenStringSeq
    val ivf = SparkEntry.pinnedIvf(emb, SparkEntry.fixedCentroids(emb))
    val (sq8, bq) = (SQ8.compress(ivf), BQ.compress(ivf))
    val tiers = Seq[(String, Array[Float] => DataFrame)](
      "IVFFlat" -> (q => ivf.search(q, K, 2)),
      "SQ8" -> (q => sq8.search(q, K, 2)),
      "BQ" -> (q => bq.search(q, K, 2)))
    val cands = SearchOne.queries(emb, 64)
    val a = cands.head
    val b = cands.find(q => ivf.probeSet(q, K, 2).toSet != ivf.probeSet(a, K, 2).toSet)
      .getOrElse(fail("no two queries with different probe sets"))
    // generated source per whole-stage subtree, expression ids masked
    def code(df: DataFrame): Seq[String] =
      codegenStringSeq(df.queryExecution.executedPlan)
        .map(_._2.replaceAll("#\\d+", "#"))
    for ((name, search) <- tiers) {
      val (ca, cb) = (code(search(a)), code(search(b)))
      assert(ca.nonEmpty, s"$name: no whole-stage codegen in the search plan")
      assert(ca == cb, s"$name: generated code depends on the probe set")
    }
  }

  test("a saved-then-loaded IVFFlat search prunes cells as parquet partition filters") {
    val ivf = SparkEntry.pinnedIvf(emb, SparkEntry.fixedCentroids(emb))
    val dir = java.nio.file.Files.createTempDirectory("ivf_cells").toString
    ivf.save(dir)
    val loaded = IVFFlat.load(spark, dir)
    for (q <- SearchOne.queries(emb, 3)) {
      val df = loaded.search(q, K, 2)
      val plan = df.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*array_contains\\(".r.findFirstIn(plan).isDefined,
        plan)
      assert(df.collect().toSeq == ivf.search(q, K, 2).collect().toSeq)
    }
  }

  /** A search's rows as (id, distance bits): bit-identical distances,
    * and NaN compares equal to NaN. */
  private def bits(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getAs[Long]("id"),
      java.lang.Double.doubleToLongBits(r.getAs[Double]("distance")))).toSeq

  /** Every query searched on the cold model, then on the same model
    * warmed: the same rows, bit for bit, under the same schema. */
  private def warmEqualsCold(what: String, queries: Seq[Array[Float]],
                             warm: () => Unit, cool: () => Unit,
                             search: Array[Float] => DataFrame): Unit = {
    val cold = queries.map(search)
    val coldRows = cold.map(bits)
    warm()
    try {
      for (((q, i), want) <- queries.zipWithIndex.zip(coldRows)) {
        val got = search(q)
        assert(got.schema == cold(i).schema,
          s"$what query $i: warm schema ${got.schema} != cold ${cold(i).schema}")
        assert(bits(got) == want, s"$what query $i:\n warm ${bits(got)}\n cold $want")
      }
    } finally cool()
  }

  test("warm search == cold search, row for row") {
    val ivf = SparkEntry.pinnedIvf(emb, SparkEntry.fixedCentroids(emb))
    for (minProbe <- Seq(1, 2, ivf.centroids.length))
      warmEqualsCold(s"IVFFlat minProbe $minProbe", qs, () => ivf.warm(), () => ivf.cool(),
        ivf.search(_, K, minProbe))
    val lsh = LSHForest.build(emb, "vec_id", "embedding",
      LSHForest.Params(numTrees = 3, maxNodeSize = 32, probes = 3))
    warmEqualsCold("LSHForest", qs, () => lsh.warm(), () => lsh.cool(), lsh.search(_, K))
    val params = HNSWGraph.Params(efConstruction = 40, m = 8)
    val plain = HNSW.build(emb, "vec_id", "embedding", params, numShards = 4)
    val dead = plain.remove(emb.filter(col("vec_id") % 7 === 0), "vec_id")
    val routed = HNSW.buildRouted(emb, "vec_id", "embedding", params,
      numShards = 4, routerIterations = 3)
    for ((what, m) <- Seq("plain" -> plain, "tombstoned" -> dead, "routed" -> routed)) {
      warmEqualsCold(s"HNSW $what", qs, () => m.warm(), () => m.cool(), m.search(_, K))
      // the schema of the plan the serving job replaced
      import spark.implicits._
      assert(m.search(qs.head, K).schema == Seq((0L, 0.0)).toDF("id", "distance").schema)
    }
  }

  test("warm search: one job with one stage, and its result collects with no job") {
    val q = SearchOne.queries(emb, 2)(1)
    val ivf = SparkEntry.pinnedIvf(emb, SparkEntry.fixedCentroids(emb))
    val hnsw = HNSW.build(emb, "vec_id", "embedding",
      HNSWGraph.Params(efConstruction = 40, m = 8), numShards = 4)
    val lsh = LSHForest.build(emb, "vec_id", "embedding",
      LSHForest.Params(numTrees = 2, maxNodeSize = 64, probes = 3))
    for ((name, warm, cool, search) <- Seq[(String, () => Unit, () => Unit, () => DataFrame)](
        ("IVFFlat", () => ivf.warm(): Unit, () => ivf.cool(), () => ivf.search(q, K, 2)),
        ("HNSW", () => hnsw.warm(): Unit, () => hnsw.cool(), () => hnsw.search(q, K)),
        ("LSHForest", () => lsh.warm(): Unit, () => lsh.cool(), () => lsh.search(q, K)))) {
      warm()
      try {
        var df: DataFrame = null
        val run = launchedBy { df = search() }
        assert(run.jobs.size == 1, s"$name warm search launched ${run.jobs.size} jobs")
        assert(run.stagesRun.size == 1, s"$name warm search ran ${run.stagesRun.size} stages")
        assert(jobsOf(df.collect(): Unit) == 0, s"$name: collecting the result launched a job")
        assert(df.collect().length == K)
      } finally cool()
    }
  }

  test("TopK.perQuery orders NaN distances as TopK.one does") {
    import spark.implicits._
    import graft.functions.TopK
    val rows = Seq((1L, Double.NaN), (2L, 0.5), (3L, 0.1), (4L, 0.9), (5L, 0.2))
    for ((cands, k) <- Seq(rows -> 2, rows -> 1, (rows :+ (0L -> Double.NaN)) -> 6)) {
      val scored = cands.map { case (id, d) => (0L, id, d) }.toDF("qid", "id", "distance")
        .repartition(2)
      val one = bits(TopK.one(scored.drop("qid"), k))
      val per = bits(TopK.perQuery(scored, k).orderBy("distance", "id"))
      assert(per == one, s"k = $k:\n perQuery $per\n one      $one")
    }
    assert(bits(TopK.perQuery(rows.map { case (id, d) => (0L, id, d) }
      .toDF("qid", "id", "distance"), 2)) == Seq(3L -> 0.1, 5L -> 0.2)
      .map { case (id, d) => (id, java.lang.Double.doubleToLongBits(d)) })
  }

  test("a warm IVFFlat search equals the cold one on a corpus holding a NaN vector") {
    import spark.implicits._
    val cents = SparkEntry.fixedCentroids(emb)
    val dim = cents.head.length
    val corpus = emb.filter(col("vec_id") < 64)
      .select(col("vec_id"), col("embedding").cast("array<float>"))
      .union(Seq((1000L, Array.fill(dim)(Float.NaN))).toDF("vec_id", "embedding"))
    val ivf = IVFFlat.Model(IVFFlat.Params(cents.length), cents,
      Array.fill(cents.length)(Long.MaxValue),
      IVFFlat.assign(corpus, "vec_id", "embedding", cents))
    val queries = SearchOne.queries(emb, 3).toSeq
    for (k <- Seq(5, 65)) {
      warmEqualsCold(s"NaN corpus k = $k", queries, () => ivf.warm(), () => ivf.cool(),
        ivf.search(_, k, cents.length))
      val last = ivf.search(queries.head, k, cents.length).collect().last
      assert((last.getAs[Long]("id") == 1000L) == (k == 65), s"k = $k: NaN row placement")
    }
  }

  test("LSHForest search == one-row searchMany: 3 trees, 3 probes") {
    val m = LSHForest.build(emb, "vec_id", "embedding",
      LSHForest.Params(numTrees = 3, maxNodeSize = 32, probes = 3))
    assert(m.trees.forall(_.planes.nonEmpty))
    sameAsOneRowBatch("LSHForest", qs, m.search(_, K),
      m.searchMany(_, "qid", "qvec", K))
  }
}
