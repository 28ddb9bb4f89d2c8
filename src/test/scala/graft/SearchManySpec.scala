package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.index.{HNSW, HNSWGraph, LSHForest}

/** Batch `searchMany` on a warmed IVFFlat, HNSW or LSHForest runs one
  * job over the model's resident serving copy and merges per query on
  * the driver; these gates hold it to the cold plan's rows and schema,
  * to that job shape, and to the null-query contract on both paths. */
class SearchManySpec extends SparkSpec {
  import SearchOne.K
  import spark.implicits._

  private lazy val emb = SearchOne.emb(spark, sf0001)
  private lazy val qs = SearchOne.mixed(emb)

  private def frame(batch: Seq[(Long, Array[Float])]): DataFrame = batch.toDF("qid", "qvec")

  /** The 12 queries as qids 0..11. */
  private lazy val batch = frame(qs.zipWithIndex.map { case (q, i) => (i.toLong, q) })

  /** A batch result as (qid, id, distance bits), in a canonical order. */
  private def bits(df: DataFrame): Seq[(Long, Long, Long)] =
    df.collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("id"),
      java.lang.Double.doubleToLongBits(r.getAs[Double]("distance")))).toSeq.sorted

  private lazy val ivf = SparkEntry.pinnedIvf(emb, SparkEntry.fixedCentroids(emb))
  /** A fresh forest: cooling one releases its checkpointed corpus for
    * good ([[graft.index.Residency.cool]]). */
  private def newLsh() = LSHForest.build(emb, "vec_id", "embedding",
    LSHForest.Params(numTrees = 3, maxNodeSize = 32, probes = 3))
  private val hnswParams = HNSWGraph.Params(efConstruction = 40, m = 8)
  private lazy val plain = HNSW.build(emb, "vec_id", "embedding", hnswParams, numShards = 4)
  private lazy val routed = HNSW.buildRouted(emb, "vec_id", "embedding", hnswParams,
    numShards = 4, routerIterations = 3)

  /** (name, warm, cool, searchMany at k) of the three warm-serving tiers. */
  private def tiers: Seq[(String, () => Unit, () => Unit, (DataFrame, Int) => DataFrame)] = {
    val lsh = newLsh()
    Seq(
    ("IVFFlat", () => ivf.warm(): Unit, () => ivf.cool(),
      (b, k) => ivf.searchMany(b, "qid", "qvec", k, 2)),
    ("HNSW", () => plain.warm(): Unit, () => plain.cool(),
      (b, k) => plain.searchMany(b, "qid", "qvec", k)),
    ("LSHForest", () => lsh.warm(): Unit, () => lsh.cool(),
      (b, k) => lsh.searchMany(b, "qid", "qvec", k)))
  }

  /** Every batch searched on the cold model, then on the same model
    * warmed: the same rows, distances bit for bit, under the same
    * schema (nullability included). */
  private def warmEqualsCold(what: String, batches: Seq[(String, DataFrame)],
                             warm: () => Unit, cool: () => Unit,
                             many: DataFrame => DataFrame): Unit = {
    val cold = batches.map { case (_, b) => many(b) }
    val coldRows = cold.map(bits)
    warm()
    try {
      for ((((name, b), c), want) <- batches.zip(cold).zip(coldRows)) {
        val got = many(b)
        assert(got.schema == c.schema, s"$what $name: warm schema ${got.schema} != cold ${c.schema}")
        assert(bits(got) == want, s"$what $name:\n warm ${bits(got)}\n cold $want")
      }
    } finally cool()
  }

  /** A query with a NaN coordinate: every distance is NaN, so the cut
    * is decided by the NaN order and the id tie-break alone. */
  private lazy val nanQuery = { val q = qs(0).clone(); q(0) = Float.NaN; q }

  /** The gated batches: the 12 queries, an empty batch, one whose qids
    * repeat (qid 1 twice, with two different vectors), and the NaN
    * query beside a plain one. */
  private lazy val batches = Seq(
    "12 queries" -> batch,
    "empty batch" -> frame(Seq.empty),
    "repeated qid" -> frame(Seq(0L -> qs(0), 1L -> qs(1), 1L -> qs(9))),
    "NaN coordinate" -> frame(Seq(0L -> qs(0), 1L -> nanQuery)))

  test("warm searchMany == cold searchMany, row for row: IVFFlat nprobe 1, 2 and all cells") {
    for (nprobe <- Seq(1, 2, ivf.centroids.length))
      warmEqualsCold(s"IVFFlat nprobe $nprobe", batches, () => ivf.warm(), () => ivf.cool(),
        ivf.searchMany(_, "qid", "qvec", K, nprobe))
    assert(bits(ivf.searchMany(batch, "qid", "qvec", K, 2)).size == qs.size * K)
  }

  test("warm searchMany == cold searchMany, row for row: LSHForest 3 trees x 3 probes") {
    val lsh = newLsh()
    assert(lsh.trees.forall(_.planes.nonEmpty))
    // the cold plan's per-qid dedup keeps the NaN cut of single search
    // (ties by id) whatever order the shuffle delivers candidates in
    val one = lsh.search(nanQuery, K).collect().map(_.getAs[Long]("id")).toSeq
    val many = lsh.searchMany(frame(Seq(1L -> nanQuery)).repartition(3), "qid", "qvec", K)
      .collect().map(_.getAs[Long]("id")).toSeq.sorted
    assert(many == one, s"NaN query: searchMany $many, search $one")
    warmEqualsCold("LSHForest", batches, () => lsh.warm(), () => lsh.cool(),
      lsh.searchMany(_, "qid", "qvec", K))
  }

  test("warm searchMany == cold searchMany, row for row: HNSW plain, tombstoned, routed") {
    val dead = plain.remove(emb.filter(col("vec_id") % 7 === 0), "vec_id")
    for ((what, m, probe) <- Seq(("plain", plain, 0), ("tombstoned", dead, 0),
        ("routed probeShards 1", routed, 1), ("routed probeShards 0", routed, 0)))
      warmEqualsCold(s"HNSW $what", batches, () => m.warm(), () => m.cool(),
        m.searchMany(_, "qid", "qvec", K, probe))
    // warm counts each shard's tombstones once, beside its graph
    dead.warm()
    try {
      val shards = dead.graphs.get.getOrElse(fail("warm left no decoded graphs")).collect()
      assert(shards.forall(s => s.dead == s.graph.ids.count(dead.removed.contains)))
      assert(shards.map(_.dead).sum == dead.removed.size)
      assert(bits(dead.searchMany(batch, "qid", "qvec", K))
        .forall { case (_, id, _) => !dead.removed.contains(id) })
    } finally dead.cool()
  }

  test("searchMany at k = 0: no rows, the batch schema and no job, warm and cold") {
    for ((name, warm, cool, many) <- tiers) {
      val cold = many(batch, 0)
      assert(jobsOf(cold.collect(): Unit) == 0 && cold.collect().isEmpty, s"$name cold")
      warm()
      try {
        var df: DataFrame = null
        assert(jobsOf { df = many(batch, 0) } == 0, s"$name warm k = 0 launched a job")
        assert(df.collect().isEmpty && df.schema == cold.schema, s"$name warm")
      } finally cool()
    }
  }

  test("warm searchMany: one job with one stage and no shuffle, and its result collects with no job") {
    for ((name, warm, cool, many) <- tiers) {
      warm()
      try {
        var df: DataFrame = null
        val run = launchedBy { df = many(batch, K) }
        assert(run.jobs.size == 1, s"$name warm searchMany launched ${run.jobs.size} jobs")
        assert(run.stagesRun.size == 1, s"$name warm searchMany ran ${run.stagesRun.size} stages")
        // the one stage run is the job's result stage (created last), so
        // nothing is written to a shuffle
        assert(run.stagesRun.map(_.stageId) == Seq(run.jobs.head.stageIds.max),
          s"$name: the stage run is not the result stage")
        assert(jobsOf(df.collect(): Unit) == 0, s"$name: collecting the result launched a job")
        assert(df.collect().length == qs.size * K)
        assert(jobsOf(many(frame(Seq.empty), K).collect(): Unit) == 0,
          s"$name: an empty warm batch launched a job")
      } finally cool()
    }
  }

  test("a null query vector fails naming the tier and the qid, warm and cold") {
    val nulled = frame(Seq(0L -> qs(0), 7L -> null))
    for ((name, warm, cool, many) <- tiers; path <- Seq("cold", "warm")) {
      if (path == "warm") warm()
      try {
        val e = intercept[Throwable](many(nulled, K).collect())
        val iae = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
          .collectFirst { case x: IllegalArgumentException => x }
        assert(iae.exists(_.getMessage.contains(s"$name query 7 has a null vector")),
          s"$name $path: $e")
      } finally if (path == "warm") cool()
    }
  }
}
