package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.{BQ, HNSW, HNSWGraph, LSHForest, SQ8}

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

  /** Corpus vectors plus off-corpus ones (each nudged per coordinate). */
  private lazy val qs: Seq[Array[Float]] = {
    val base = SearchOne.queries(emb, 8).toSeq
    val r = new scala.util.Random(0x5e1L)
    base ++ base.take(4).map(_.map(x => x + (r.nextGaussian() * 0.05).toFloat))
  }

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

  test("LSHForest search == one-row searchMany: 3 trees, 3 probes") {
    val m = LSHForest.build(emb, "vec_id", "embedding",
      LSHForest.Params(numTrees = 3, maxNodeSize = 32, probes = 3))
    assert(m.trees.forall(_.planes.nonEmpty))
    sameAsOneRowBatch("LSHForest", qs, m.search(_, K),
      m.searchMany(_, "qid", "qvec", K))
  }
}
